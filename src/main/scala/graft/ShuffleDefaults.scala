package graft

/** Session-level performance defaults shared by every graft session
  * ([[Session]], and the benchmark harness, which builds its own). No
  * value here changes any query's rows.
  *
  * == Shuffle writer (`spark.shuffle.sort.bypassMergeThreshold`) ==
  * Two regimes were measured on this sandbox's syscall-expensive
  * filesystem (r16 optimization pass, full A/B in OPTIMIZATION_r16.md):
  *
  *  - SMALL shuffles: the bypass writer's one-temp-file-per-reducer-
  *    per-map-task (M × R creates at ~1 ms each) dominates — it was
  *    the single biggest cost of the round-start regression, but only
  *    because the always-32-wide narrow-layout spread had inflated M
  *    on every small exchange. With the input-derived spread width
  *    (Tables.SpreadRowsPerTask) M is small again and the file cost
  *    is bounded.
  *  - LARGE shuffles (the sf1 dedup family): forcing the serialized
  *    sort writer (threshold 0) cost +25 % wall / +90 % cpu / 3× gc
  *    on shared_dedup_pairs and 3.5× on q_dedup_containment — page
  *    buffering, radix sort and spill merges that the bypass writer's
  *    straight per-reducer streams never pay.
  *
  * Full-bench A/B at the final tree (sf0.1, 32 cores): threshold 0 →
  * 230.5 s / 384 cpu-s; Spark's default 200 → 210.7 s / 505 cpu-s,
  * and sf1 strictly better. The threshold stays at Spark's 200 — set
  * explicitly so the measured decision is visible. On a real cluster
  * corpus shuffles have R ≫ 200, so the sort writer engages there
  * either way.
  *
  * == Codegen cache (`spark.sql.codegen.cache.maxEntries`) ==
  * Defaults to 100 compiled classes; a 186-query catalog plus AQE's
  * per-stage replans churns that LRU and re-Janino-compiles identical
  * sources all run (~40 % of busy executor samples sat in
  * `CodeGenerator.compile` on the round-start bench). 8192 entries
  * hold the whole catalog's generated classes for the session
  * (measured: q_recall_report sf1 cpu 380 → 102 s).
  *
  * == Off-heap execution memory (`spark.memory.offHeap.*`) ==
  * The big dedup/pair aggregations build multi-million-entry
  * BytesToBytesMap hash maps whose page arrays live on the JVM heap
  * by default — at sf1 shared_dedup_pairs measured 28-75 s of GC per
  * run from exactly that churn (r17 A/B, pin and tree otherwise
  * identical: off-heap ON → wall 56-65 s / gc 18-21; OFF → wall
  * 70-71 s / gc 28-75). Off-heap execution memory is the standard
  * at-scale remedy (map pages and spill buffers leave the GC's
  * world); the 6g size is a CAP allocated on demand, not a
  * reservation, so small sessions are unaffected.
  */
object ShuffleDefaults {
  def apply(b: org.apache.spark.sql.SparkSession.Builder)
      : org.apache.spark.sql.SparkSession.Builder =
    b.config("spark.shuffle.sort.bypassMergeThreshold", "200")
      .config("spark.sql.codegen.cache.maxEntries", "8192")
      .config("spark.memory.offHeap.enabled", "true")
      .config("spark.memory.offHeap.size", "6g")
}
