package graft
package gates

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.operators.KMeans
import GateHelpers._

/** The `k` gates (k-means). */
object KMeansGates extends GateFamily("k") {
  /** The k02 shared chain: k01's two Lloyd rounds with init and both
    * updates restricted to the %4!=0 TRAINING subset, then the final
    * nearest-centroid assignment (`a3`) over the %4==0 holdout.
    */
  private lazy val k02OracleChain: String =
    """WITH e AS (SELECT vec_id, list_transform(CAST(embedding AS DOUBLE[]),
      |  x -> CAST(round(x * 1000000) AS BIGINT)) AS vq FROM embeddings),
      |et AS (SELECT * FROM e WHERE vec_id % 4 <> 0),
      |eh AS (SELECT * FROM e WHERE vec_id % 4 = 0),
      |c0 AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, vq AS cv
      |  FROM et ORDER BY vec_id LIMIT 8),
      |dd1 AS (SELECT et.vec_id, c.cell, list_sum(list_transform(range(1, 65),
      |  i -> (et.vq[i] - c.cv[i]) * (et.vq[i] - c.cv[i]))) AS d2 FROM et CROSS JOIN c0 c),
      |a1 AS (SELECT vec_id, cell FROM (SELECT vec_id, cell,
      |  row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rn FROM dd1) WHERE rn = 1),
      |s1 AS (SELECT a.cell, i.i, CAST(floor(CAST(sum(et.vq[i.i]) AS DOUBLE) / count(*)) AS BIGINT) AS cd
      |  FROM a1 a JOIN et USING (vec_id) CROSS JOIN range(1, 65) i(i) GROUP BY 1, 2),
      |u1 AS (SELECT cell, list(cd ORDER BY i) AS cv FROM s1 GROUP BY 1),
      |c1 AS (SELECT c0.cell, coalesce(u1.cv, c0.cv) AS cv FROM c0 LEFT JOIN u1 USING (cell)),
      |dd2 AS (SELECT et.vec_id, c.cell, list_sum(list_transform(range(1, 65),
      |  i -> (et.vq[i] - c.cv[i]) * (et.vq[i] - c.cv[i]))) AS d2 FROM et CROSS JOIN c1 c),
      |a2 AS (SELECT vec_id, cell FROM (SELECT vec_id, cell,
      |  row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rn FROM dd2) WHERE rn = 1),
      |s2 AS (SELECT a.cell, i.i, CAST(floor(CAST(sum(et.vq[i.i]) AS DOUBLE) / count(*)) AS BIGINT) AS cd
      |  FROM a2 a JOIN et USING (vec_id) CROSS JOIN range(1, 65) i(i) GROUP BY 1, 2),
      |u2 AS (SELECT cell, list(cd ORDER BY i) AS cv FROM s2 GROUP BY 1),
      |c2 AS (SELECT c1.cell, coalesce(u2.cv, c1.cv) AS cv FROM c1 LEFT JOIN u2 USING (cell)),
      |dd3 AS (SELECT eh.vec_id, c.cell, list_sum(list_transform(range(1, 65),
      |  i -> (eh.vq[i] - c.cv[i]) * (eh.vq[i] - c.cv[i]))) AS d2 FROM eh CROSS JOIN c2 c),
      |a3 AS (SELECT vec_id, cell, d2 FROM (SELECT vec_id, cell, d2,
      |  row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rn FROM dd3) WHERE rn = 1)""".stripMargin

  val gates: Seq[Gate] = Seq(
    Gate("k01_kmeans", (s, d) =>
      KMeans.fitAssign(tbl(s, d, "embeddings"), "vec_id", "embedding",
        k = 8, nIter = 2)
        .select(col("vec_id"), col("cell").cast(LongType).as("cell"), col("d2")),
      // Quantized-Lloyd's replay, 2 unrolled iterations: micro-lattice
      // points, k=8 smallest-id init, exact integer squared-L2 assignment
      // (ties to the smaller cell), floor-divided centroid update with
      // empty-cell carryover — every step integer-exact, so the hash gate is
      // strict equality (see graft.operators.KMeans).
      """WITH e AS (SELECT vec_id, list_transform(CAST(embedding AS DOUBLE[]),
        |  x -> CAST(round(x * 1000000) AS BIGINT)) AS vq FROM embeddings),
        |c0 AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, vq AS cv
        |  FROM e ORDER BY vec_id LIMIT 8),
        |dd1 AS (SELECT e.vec_id, c.cell, list_sum(list_transform(range(1, 65),
        |  i -> (e.vq[i] - c.cv[i]) * (e.vq[i] - c.cv[i]))) AS d2 FROM e CROSS JOIN c0 c),
        |a1 AS (SELECT vec_id, cell FROM (SELECT vec_id, cell,
        |  row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rn FROM dd1) WHERE rn = 1),
        |s1 AS (SELECT a.cell, i.i, CAST(floor(CAST(sum(e.vq[i.i]) AS DOUBLE) / count(*)) AS BIGINT) AS cd
        |  FROM a1 a JOIN e USING (vec_id) CROSS JOIN range(1, 65) i(i) GROUP BY 1, 2),
        |u1 AS (SELECT cell, list(cd ORDER BY i) AS cv FROM s1 GROUP BY 1),
        |c1 AS (SELECT c0.cell, coalesce(u1.cv, c0.cv) AS cv FROM c0 LEFT JOIN u1 USING (cell)),
        |dd2 AS (SELECT e.vec_id, c.cell, list_sum(list_transform(range(1, 65),
        |  i -> (e.vq[i] - c.cv[i]) * (e.vq[i] - c.cv[i]))) AS d2 FROM e CROSS JOIN c1 c),
        |a2 AS (SELECT vec_id, cell FROM (SELECT vec_id, cell,
        |  row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rn FROM dd2) WHERE rn = 1),
        |s2 AS (SELECT a.cell, i.i, CAST(floor(CAST(sum(e.vq[i.i]) AS DOUBLE) / count(*)) AS BIGINT) AS cd
        |  FROM a2 a JOIN e USING (vec_id) CROSS JOIN range(1, 65) i(i) GROUP BY 1, 2),
        |u2 AS (SELECT cell, list(cd ORDER BY i) AS cv FROM s2 GROUP BY 1),
        |c2 AS (SELECT c1.cell, coalesce(u2.cv, c1.cv) AS cv FROM c1 LEFT JOIN u2 USING (cell)),
        |dd3 AS (SELECT e.vec_id, c.cell, list_sum(list_transform(range(1, 65),
        |  i -> (e.vq[i] - c.cv[i]) * (e.vq[i] - c.cv[i]))) AS d2 FROM e CROSS JOIN c2 c),
        |a3 AS (SELECT vec_id, cell, d2 FROM (SELECT vec_id, cell, d2,
        |  row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rn FROM dd3) WHERE rn = 1)
        |SELECT vec_id, CAST(cell AS BIGINT) AS cell, CAST(d2 AS BIGINT) AS d2 FROM a3""".stripMargin),

    // Frozen-centroid PREDICT (the s17 discipline for clustering):
    // train on the %4!=0 subset, assign the held-out quarter with no
    // retrain — oracle = the k01 chain with every training CTE
    // restricted to the subset and the final assignment over the
    // holdout.
    Gate("k02_kmeans_predict", (s, d) => {
      val e = tbl(s, d, "embeddings")
      val cents = KMeans.fitCentroids(e.filter(col("vec_id") % 4 =!= 0),
        "vec_id", "embedding", k = 8, nIter = 2)
      KMeans.predictAssign(e.filter(col("vec_id") % 4 === 0),
          "vec_id", "embedding", cents)
        .select(col("vec_id"), col("cell").cast(LongType).as("cell"),
          col("d2"))
    },
      // Frozen-centroid predict replay: the k01 training chain with every
      // CTE restricted to the %4!=0 subset (init, both Lloyd rounds), and
      // the final assignment over the %4==0 HOLDOUT — any retrain, seed
      // drift, or tie-break drift diverges.
      (k02OracleChain + "\nSELECT vec_id, CAST(cell AS BIGINT) AS cell, " +
        "CAST(d2 AS BIGINT) AS d2 FROM a3")),

    // ... and the holdout INERTIA per cell (exact integer SSE) — the
    // retrain-pressure measurement for clustering.
    Gate("k02b_cluster_inertia", (s, d) => {
      val e = tbl(s, d, "embeddings")
      val cents = KMeans.fitCentroids(e.filter(col("vec_id") % 4 =!= 0),
        "vec_id", "embedding", k = 8, nIter = 2)
      KMeans.clusterInertia(KMeans.predictAssign(
        e.filter(col("vec_id") % 4 === 0), "vec_id", "embedding", cents))
    },
      // The same chain folded to per-cell holdout inertia.
      (k02OracleChain + """
        |SELECT CAST(cell AS BIGINT) AS cell,
        |  CAST(count(*) AS BIGINT) AS n_points,
        |  CAST(sum(d2) AS BIGINT) AS sse
        |FROM a3 GROUP BY 1""".stripMargin)),

    // WARM-START k-means (k03 — continual training for the clustering
    // family): yesterday's fit (2 Lloyd rounds on the %4!=0 subset, the
    // k02 training chain verbatim) resumes with ONE more Lloyd round
    // over the FULL grown corpus, then assigns everything. Lloyd is a
    // pure function of (points, centroids), so the oracle replays the
    // exact resumed step — any re-init, seed, or tie-break drift
    // diverges.
    Gate("k03_kmeans_warm", (s, d) => {
      val e = tbl(s, d, "embeddings")
      val prev = KMeans.fitCentroids(e.filter(col("vec_id") % 4 =!= 0),
        "vec_id", "embedding", k = 8, nIter = 2)
      val warm = KMeans.fitCentroids(e, "vec_id", "embedding",
        k = 8, nIter = 1, initOpt = Some(prev))
      KMeans.predictAssign(e, "vec_id", "embedding", warm)
        .select(col("vec_id"), col("cell").cast(LongType).as("cell"),
          col("d2"))
    },
      // Warm-resume replay: the k02 training chain's c2 (yesterday's fit
      // on the %4!=0 subset), ONE more Lloyd round over the FULL corpus
      // (dd4/a4/s4/u4 -> c3), final assignment of everything to c3.
      (k02OracleChain + """,
        |dd4 AS (SELECT e.vec_id, c.cell, list_sum(list_transform(range(1, 65),
        |  i -> (e.vq[i] - c.cv[i]) * (e.vq[i] - c.cv[i]))) AS d2 FROM e CROSS JOIN c2 c),
        |a4 AS (SELECT vec_id, cell FROM (SELECT vec_id, cell,
        |  row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rn FROM dd4) WHERE rn = 1),
        |s4 AS (SELECT a.cell, i.i, CAST(floor(CAST(sum(e.vq[i.i]) AS DOUBLE) / count(*)) AS BIGINT) AS cd
        |  FROM a4 a JOIN e USING (vec_id) CROSS JOIN range(1, 65) i(i) GROUP BY 1, 2),
        |u4 AS (SELECT cell, list(cd ORDER BY i) AS cv FROM s4 GROUP BY 1),
        |c3 AS (SELECT c2.cell, coalesce(u4.cv, c2.cv) AS cv FROM c2 LEFT JOIN u4 USING (cell)),
        |dd5 AS (SELECT e.vec_id, c.cell, list_sum(list_transform(range(1, 65),
        |  i -> (e.vq[i] - c.cv[i]) * (e.vq[i] - c.cv[i]))) AS d2 FROM e CROSS JOIN c3 c),
        |a5 AS (SELECT vec_id, cell, d2 FROM (SELECT vec_id, cell, d2,
        |  row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rn FROM dd5) WHERE rn = 1)
        |SELECT vec_id, CAST(cell AS BIGINT) AS cell, CAST(d2 AS BIGINT) AS d2 FROM a5""".stripMargin))
  )
}
