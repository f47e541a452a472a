package graft

import org.apache.spark.sql.SparkSession

/** Engine-tuning defaults every graft session builder applies — ONE
  * definition so the entry points (Bench, Verify, ScaleBench, Profile,
  * ExplainProbe, RunAlgorithm, GraphDemo, the test harness) can never
  * drift onto different engine configs than the ones the SCALE_RECORD
  * measurements and PlanSpec pins were taken under.
  *
  *  - `codegen.hugeMethodLimit=8000`: stages whose largest generated
  *    method would exceed HotSpot's ~8K-bytecode JIT cap run in the RAW
  *    bytecode interpreter if compiled — fall back per-stage instead
  *    (the wide-encode cliff, SCALE_RECORD.md r15; 6x on the 4.2 M-row
  *    IVF-PQ encode, noise-level elsewhere).
  *  - `objectHashAggregate.sortBased.fallbackThreshold=65536`: our
  *    TypedImperative aggregates keep BOUNDED-SMALL per-group state
  *    (top-k heaps, label/h-index histograms); big-state aggregates
  *    (gram matrix, vector sums, grouped sketches) run at low group
  *    cardinality. The 128-key default forces per-vertex and per-query
  *    aggregation into sort-based fallback, whose spill machinery is
  *    what actually OOMed the 16k-query ADC probe — hash aggregation is
  *    both faster and safer for this state shape (SCALE_RECORD.md r15).
  */
object SparkDefaults {
  def apply(b: SparkSession.Builder): SparkSession.Builder = b
    .config("spark.sql.codegen.hugeMethodLimit", "8000")
    .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
      "65536")
    // 64 MB broadcast ceiling (default 10 MB): the board's mid-size build
    // sides — symmetrized edge sets (~24 MB at sf0.1), vocabulary-sized
    // count tables, per-vertex degree frames — sit between the two, so
    // under the default they planned as sort-merge joins that shuffled the
    // 10-100x larger probe side (g28's known-edge anti-join shuffled ~10M
    // wedge pairs against a 24 MB edge list; min wall 15.3s -> 5.3s with
    // the ceiling raised, r19 optimization round). 64 MB is a conservative
    // production value, not a local-mode trick: guide §3.1 puts "a few
    // hundred MB" as routinely fine, the hard cap is 8 GB, and executors
    // sized for 100 TB shuffles hold a 64 MB build relation without
    // pressure. AQE's runtime SMJ->BHJ rewrite uses the same ceiling, so
    // estimate-blind plans also recover at runtime.
    .config("spark.sql.autoBroadcastJoinThreshold", (64 * 1024 * 1024).toString)
    // Let AQE coalesce post-shuffle partitions purely by BYTES (the
    // advisory size), not "keep every core busy": with parallelismFirst
    // at its default (true), AQE refuses to coalesce below the default
    // parallelism, so every delta-scale shuffle in an iterative loop
    // (SCC fixpoints, BFS frontiers, contraction tails) keeps cpu-count
    // partitions of a few rows each and pays cpu-count task launches per
    // round. Spark's own config doc recommends exactly this flip
    // ("recommended to set ... to false and rely on the advisory size").
    // Scale-adaptive by construction — partition count tracks data bytes
    // at any scale factor (g26 BFS min wall 6.2s -> 3.0s, g23b SCC
    // 14.7s -> 9.8s, r19 optimization round).
    .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
    // Generated-class cache sized for a many-query session (static conf;
    // Spark default 100). The 273-gate board compiles ~1500+ distinct
    // whole-stage sources per rep, so at 100 entries every warm rep
    // re-compiles what the queries in between evicted — measured with
    // CodegenMetrics (graft.tools.Profile `compiles=`): the CDC
    // maintenance loops' STEADY reps re-Janino'd 261/214/166 classes at
    // the default vs 74/66/64 at a bigger cache (r20 optimization round).
    // That residue was not eviction: the two settings below remove it.
    // 2000 entries of small generated classes is trivial driver memory
    // next to an 8 GB heap and is the production-sane value for any
    // long-lived session serving a diverse query mix.
    .config("spark.sql.codegen.cache.maxEntries", "2000")
    // Spark keys its generated-class cache on (thread context
    // classloader, source). Every `writeStream.start()` clones the session
    // under a new UUID, and with artifact isolation on (the default) that
    // query's tasks run under a fresh per-session executor classloader, so
    // the first micro-batch of EVERY streaming drain re-compiled every plan
    // it ran (47 classes for a 2-batch CDC WCC drain) and kept the
    // duplicates alive in the cache.
    // Isolation only scopes the artifacts (jars, files, REPL classes) a
    // session adds to itself. The condition it relies on: the engine adds
    // none, so off costs it nothing. A deployment whose Spark Connect
    // clients add their own jars must turn it back on.
    // `graft.CodegenReuseSpec` pins both this and the setting below.
    .config("spark.sql.artifact.isolation.enabled", "false")
    // Whole-stage classes are named GeneratedIteratorForCodegenStage<id>,
    // and the id is a position, not a body: each planning pass numbers its
    // stages in plan order, and adaptive execution keeps counting across
    // its re-plans. The same stage body therefore gets one id in a lazy
    // checkpoint's static plan (`checkpointing.staticRows`), another in an
    // adaptive query, another after a timing-dependent re-plan or when a
    // union lists its inputs in another order — and every id compiles the
    // byte-identical body again. With both settings the CDC gates' warm
    // reps compile 0 classes, down from 40-91 (BASELINE.md), and the
    // cdc-stream benchmark's live heap is about 5 MB smaller.
    // Off, every stage's class is `GeneratedIterator` and the cache key is
    // the body alone; the id stays in the plan, in `explain` output and in
    // a source comment the cache key ignores. The condition it relies on:
    // nothing maps a generated class name back to its stage (JVM stack
    // traces and profiles then name `GeneratedIterator`, not the stage).
    .config("spark.sql.codegen.useIdInClassName", "false")
}
