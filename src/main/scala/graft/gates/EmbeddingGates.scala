package graft
package gates

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.operators.KMeans
import GateHelpers._

/** The `e` gates (embeddings). */
object EmbeddingGates extends GateFamily("e") {
  val gates: Seq[Gate] = Seq(
    // Exact integer Gram matrix over the quantized embedding lattice —
    // the PCA/whitening/covariance input as ONE dim^2-state aggregate
    // (map-side combinable; corpus reduces to partitions x 4096 longs).
    // Output: the upper triangle, row-major indices.
    Gate("e02_gram_matrix", (s, d) =>
      KMeans.quantize(tbl(s, d, "embeddings"), "vec_id", "embedding")
        .agg(graft.functions.GramMatrixAgg.gram_matrix(col("vq")).as("g"))
        .select(posexplode(col("g")).as(Seq("p", "v")))
        .select(expr("p div 64").cast(LongType).as("i"),
          expr("p % 64").cast(LongType).as("j"), col("v").as("gram"))
        .filter(col("i") <= col("j")),
      // The Gram sums replayed cell-by-cell on the same micro lattice.
      """WITH e AS (SELECT list_transform(CAST(embedding AS DOUBLE[]),
        |  x -> CAST(round(x * 1000000) AS BIGINT)) AS vq FROM embeddings)
        |SELECT CAST(i.i - 1 AS BIGINT) AS i, CAST(j.j - 1 AS BIGINT) AS j,
        |  CAST(sum(vq[i.i] * vq[j.j]) AS BIGINT) AS gram
        |FROM e CROSS JOIN range(1, 65) i(i) CROSS JOIN range(1, 65) j(j)
        |WHERE i.i <= j.j GROUP BY 1, 2""".stripMargin),

    // Top eigenvector (leading PCA direction) by integer power iteration
    // on the distributed Gram build — 3 rounds, floorDiv renormalization.
    Gate("e03_top_eigenvector", (s, d) =>
      graft.operators.Spectral.topEigenvector(
        tbl(s, d, "embeddings"), "vec_id", "embedding", iters = 3),
      // The Gram chain + 3 unrolled integer power-iteration rounds.
      // DuckDB's BIGINT // TRUNCATES toward zero (probed: (-7)//2 = -3) —
      // matching the plan's Java `/`; do NOT "fix" either side to floorDiv,
      // negative components would then diverge by one.
      {
      val rounds = (1 to 3).map { t =>
        s"""u$t AS (SELECT g.i, CAST(sum(g.gv * v${t - 1}.v) AS BIGINT) AS u
           |  FROM g JOIN v${t - 1} ON v${t - 1}.i = g.j GROUP BY 1),
           |m$t AS (SELECT greatest(CAST(1 AS BIGINT), max(abs(u)) // 1000) AS s FROM u$t),
           |v$t AS (SELECT i, CAST(u // s AS BIGINT) AS v FROM u$t, m$t)""".stripMargin
      }.mkString(",\n")
      s"""WITH e AS (SELECT list_transform(CAST(embedding AS DOUBLE[]),
         |  x -> CAST(round(x * 1000000) AS BIGINT)) AS vq FROM embeddings),
         |g AS (SELECT CAST(i.i - 1 AS BIGINT) AS i, CAST(j.j - 1 AS BIGINT) AS j,
         |  CAST(sum(vq[i.i] * vq[j.j]) AS BIGINT) AS gv
         |  FROM e CROSS JOIN range(1, 65) i(i) CROSS JOIN range(1, 65) j(j)
         |  GROUP BY 1, 2),
         |v0 AS (SELECT CAST(range AS BIGINT) AS i, CAST(1000 AS BIGINT) AS v FROM range(64)),
         |$rounds
         |SELECT i, v AS eig_micros FROM v3""".stripMargin
    }),

    // WARM-START power iteration (e04 — continual training for the
    // spectral family, the k03 cadence): yesterday's direction (3
    // rounds over the vec_id % 4 != 0 subset) resumes over the FULL
    // corpus's Gram for 2 rounds. Integer-exact end to end, so the
    // oracle replays both chains verbatim.
    Gate("e04_eigenvector_warm", (s, d) => {
      val emb = tbl(s, d, "embeddings")
      val prev = graft.operators.Spectral.topEigenvector(
        emb.filter(pmod(col("vec_id"), lit(4)) =!= 0),
        "vec_id", "embedding", iters = 3)
      val init = prev.orderBy("i").collect().map(_.getLong(1))
      graft.operators.Spectral.topEigenvector(
        emb, "vec_id", "embedding", iters = 2, Some(init))
    },
      // e04: yesterday's 3-round chain over the subset Gram, resumed 2
      // rounds over the full Gram — both integer-exact, `//` truncating.
      {
      def chain(pre: String, gname: String, n: Int, from: String) =
        (1 to n).map { t =>
          val prev = if (t == 1) from else s"$pre${t - 1}"
          s"""${pre}u$t AS (SELECT g.i, CAST(sum(g.gv * p.v) AS BIGINT) AS u
             |  FROM $gname g JOIN $prev p ON p.i = g.j GROUP BY 1),
             |${pre}m$t AS (SELECT greatest(CAST(1 AS BIGINT), max(abs(u)) // 1000) AS s FROM ${pre}u$t),
             |$pre$t AS (SELECT i, CAST(u // s AS BIGINT) AS v FROM ${pre}u$t, ${pre}m$t)""".stripMargin
        }.mkString(",\n")
      s"""WITH eb AS (SELECT list_transform(CAST(embedding AS DOUBLE[]),
         |  x -> CAST(round(x * 1000000) AS BIGINT)) AS vq
         |  FROM embeddings WHERE vec_id % 4 <> 0),
         |gb AS (SELECT CAST(i.i - 1 AS BIGINT) AS i, CAST(j.j - 1 AS BIGINT) AS j,
         |  CAST(sum(vq[i.i] * vq[j.j]) AS BIGINT) AS gv
         |  FROM eb CROSS JOIN range(1, 65) i(i) CROSS JOIN range(1, 65) j(j)
         |  GROUP BY 1, 2),
         |ef AS (SELECT list_transform(CAST(embedding AS DOUBLE[]),
         |  x -> CAST(round(x * 1000000) AS BIGINT)) AS vq FROM embeddings),
         |gf AS (SELECT CAST(i.i - 1 AS BIGINT) AS i, CAST(j.j - 1 AS BIGINT) AS j,
         |  CAST(sum(vq[i.i] * vq[j.j]) AS BIGINT) AS gv
         |  FROM ef CROSS JOIN range(1, 65) i(i) CROSS JOIN range(1, 65) j(j)
         |  GROUP BY 1, 2),
         |bv0 AS (SELECT CAST(range AS BIGINT) AS i, CAST(1000 AS BIGINT) AS v FROM range(64)),
         |${chain("bv", "gb", 3, "bv0")},
         |${chain("wv", "gf", 2, "bv3")}
         |SELECT i, v AS eig_micros FROM wv2""".stripMargin
    }),

    // ...and the projection scores — the curation ranking along the
    // trained axis, one codegen scan with the direction folded in.
    Gate("e03b_pca_scores", (s, d) =>
      graft.operators.Spectral.pcaScores(
        tbl(s, d, "embeddings"), "vec_id", "embedding", iters = 3),
      // e03's chain + the per-vector dot against v3 — exact integers in the
      // double domain (all partials < 2^53), // truncating like the plan.
      {
      val rounds = (1 to 3).map { t =>
        s"""u$t AS (SELECT g.i, CAST(sum(g.gv * v${t - 1}.v) AS BIGINT) AS u
           |  FROM g JOIN v${t - 1} ON v${t - 1}.i = g.j GROUP BY 1),
           |m$t AS (SELECT greatest(CAST(1 AS BIGINT), max(abs(u)) // 1000) AS s FROM u$t),
           |v$t AS (SELECT i, CAST(u // s AS BIGINT) AS v FROM u$t, m$t)""".stripMargin
      }.mkString(",\n")
      s"""WITH eq AS (SELECT vec_id, list_transform(CAST(embedding AS DOUBLE[]),
         |  x -> CAST(round(x * 1000000) AS BIGINT)) AS vq FROM embeddings),
         |e AS (SELECT vq FROM eq),
         |g AS (SELECT CAST(i.i - 1 AS BIGINT) AS i, CAST(j.j - 1 AS BIGINT) AS j,
         |  CAST(sum(vq[i.i] * vq[j.j]) AS BIGINT) AS gv
         |  FROM e CROSS JOIN range(1, 65) i(i) CROSS JOIN range(1, 65) j(j)
         |  GROUP BY 1, 2),
         |v0 AS (SELECT CAST(range AS BIGINT) AS i, CAST(1000 AS BIGINT) AS v FROM range(64)),
         |$rounds,
         |ev AS (SELECT list(v ORDER BY i) AS evec FROM v3)
         |SELECT vec_id,
         |  CAST(CAST(list_dot_product(list_transform(vq, x -> CAST(x AS DOUBLE)),
         |    list_transform(evec, x -> CAST(x AS DOUBLE))) AS BIGINT) // 1000 AS BIGINT)
         |    AS score_micros
         |FROM eq, ev""".stripMargin
    }),

    // Exact embedding mean-pooling per class label (chunk->doc /
    // class-centroid aggregation): quantized micro-lattice + vector_sum
    // partials + floor-divided means — engine-exact like k01's update.
    Gate("e01_mean_pool", (s, d) => {
      import graft.functions.VectorSumAgg.vector_sum
      val q = KMeans.quantize(
        tbl(s, d, "embeddings").select(col("label").cast(LongType).as("label"),
          col("embedding")), "label", "embedding")
      q.groupBy("id").agg(vector_sum(col("vq")).as("vs"), count(lit(1)).as("cnt"))
        .select(col("id").as("label"), col("cnt"), posexplode(col("vs")))
        .select(col("label"), col("pos").cast(LongType).as("dim"),
          floor(col("col").cast("double") / col("cnt").cast("double"))
            .cast(LongType).as("mean_micros"))
    },
      // Quantized mean-pool replay: per-(label, dim) integer sums,
      // floor-divided — posexplode's pos is 0-based, range is 1-based.
      """WITH e AS (SELECT CAST(label AS BIGINT) AS label,
        |  list_transform(CAST(embedding AS DOUBLE[]),
        |    x -> CAST(round(x * 1000000) AS BIGINT)) AS vq FROM embeddings),
        |s AS (SELECT label, i.i,
        |  CAST(floor(CAST(sum(vq[i.i]) AS DOUBLE) / count(*)) AS BIGINT) AS mean_micros
        |  FROM e CROSS JOIN range(1, 65) i(i) GROUP BY 1, 2)
        |SELECT label, CAST(i - 1 AS BIGINT) AS dim, mean_micros FROM s""".stripMargin)
  )
}
