package graft

import org.apache.spark.sql.SparkSession

/** Per-round benchmark: runs every SparkEntry query on SPARK_GRAFT_SF_DIR,
  * forcing full evaluation through the noop sink (a bare .count() would let
  * Catalyst skip computing projected columns), and prints ONE JSON line. */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    // Shared scale-tuned block lives in Graft.tunedBuilder. The two
    // load-bearing settings it carries, calibrated here in round 13
    // (round 14 gated the threshold on input size — below 64 MB
    // Spark's default 128 wins, measured +8.9% suite cost widened at
    // sf0.1; see Graft.fallbackThresholdFor / DRIFT_AB artifacts):
    //
    // - ObjectHashAggregate's sort-based fallback fires at 128 DISTINCT
    //   KEYS by default: any partial TypedImperativeAggregate over more
    //   than 128 groups per partition (every top-k / sketch agg here —
    //   thousands to millions of qids) abandons the hash map and SORTS
    //   the full per-partition input stream. At 100× that turned a
    //   bounded-heap candidate pass into a 39M-row sort churning ~35 GB
    //   of humongous sort pages (measured: 167–292 s vs a deterministic
    //   23–26 s hash-aggregated). 128k keys is the measured sweet spot:
    //   graft's own typed aggregates carry BOUNDED buffers (k-sized
    //   heaps, fixed-size sketches — a 128k map is ~10 MB/task), while
    //   builtins with UNBOUNDED buffers (the collect_list in the BM25
    //   deterministic fold: millions of (query, doc) groups) must still
    //   fall back before the map itself becomes the memory problem — a
    //   1M-key setting sent q55b/q56 2–4× slower building GB-scale maps
    //   that fell back anyway.
    // - Initial exchange width sized to the corpus, AQE-coalesce small
    //   stages back down: a fixed cores-sized count made big
    //   exact-distinct exchanges spill at 100×, while a flat wide
    //   constant taxed the small-sf suite (see Graft.tuneForScale).
    val spark = Graft.tunedBuilder(sfDir, cpus.toInt)
      .config("spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Warmup: run the full q01 pipeline once untimed so JIT/codegen/session
    // init don't land on whichever query sorts first.
    try SparkEntry.queries("q01_dense_embed")(spark, sfDir)
      .write.format("noop").mode("overwrite").save()
    catch { case e: Throwable => System.err.println(s"[bench] warmup: $e") }
    // SPARK_GRAFT_REPEAT=n (default 3): run the WHOLE suite n times —
    // pass 1 of every query, then pass 2, ... — and report each query's
    // MEDIAN across passes. Back-to-back repeats in one slot all sit in
    // the same contaminated neighborhood (whatever GC/eviction state the
    // previous query left), so their median inherits the contamination:
    // the r7→r8 same-binary experiment moved the total ±25% and single
    // queries 2–7× with zero code change. Interleaved passes decorrelate
    // each query's samples from any one neighborhood. Set to 1 for the
    // fastest (noisiest) pass when iterating locally.
    val repeat = math.max(1, sys.env.get("SPARK_GRAFT_REPEAT")
      .flatMap(v => scala.util.Try(v.toInt).toOption).getOrElse(3))
    // Drop blocks left behind by a query run (cached frames): queries are
    // self-contained, and letting blocks accumulate across 80+ queries
    // taxes later ones with GC/eviction pressure that has nothing to do
    // with their own plans. BLOCKING so the purge cost lands here,
    // between timers, never inside the next query's measurement.
    // Locally-checkpointed RDDs are skipped: their blocks ARE the
    // truncated lineage, so unpersisting them logs WARN + DAGScheduler
    // stack traces indistinguishable from real failures in bench stderr;
    // they are released asynchronously by the ContextCleaner once the
    // query's frames go out of scope.
    def purge(): Unit = {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .filter(!org.apache.spark.rdd.GraftRddBridge.isLocallyCheckpointed(_))
        .foreach(_.unpersist(blocking = true))
      // skipped localCheckpoint blocks release via the ContextCleaner
      // once their RDDs are collected — force the collection HERE, in
      // the untimed gap, so their eviction pressure can't land inside
      // the next query's measurement
      System.gc()
    }
    val suite = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
    val times = scala.collection.mutable.Map.empty[String, scala.collection.mutable.ArrayBuffer[Double]]
    val failed0 = scala.collection.mutable.Set.empty[String]
    for (pass <- 1 to repeat) {
      suite.foreach { case (name, fn) =>
        if (!failed0.contains(name)) {
          val t0 = System.nanoTime()
          val ok =
            try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
            catch { case e: Throwable => System.err.println(s"[bench] $name: $e"); false }
          val sec = (System.nanoTime() - t0) / 1e9
          if (ok) times.getOrElseUpdate(name, scala.collection.mutable.ArrayBuffer.empty) += sec
          else failed0 += name
          purge() // untimed: the next query starts from a clean block store
        }
      }
      System.err.println(s"[bench] pass $pass/$repeat done")
    }
    val results = suite.map { case (name, _) =>
      val ok = !failed0.contains(name)
      val sorted = times.getOrElse(name, scala.collection.mutable.ArrayBuffer.empty).sorted
      val sec = if (sorted.isEmpty) 0.0 else sorted(sorted.length / 2)
      System.err.println(f"[bench] $name%-22s $sec%8.2f s (median of ${sorted.length} interleaved)${if (ok) "" else " FAILED"}")
      (name, sec, ok)
    }
    // failed queries report -1 and are excluded from the total — a crash
    // must never read as a fast pass
    val qs = results.map { case (k, v, ok) => "\"" + k + "\":" + (if (ok) v else -1) }
      .mkString("{", ",", "}")
    // raw per-pass samples, in pass order — medians stay the headline,
    // but the spread is what separates a methodology change from
    // environment noise when rounds are compared
    val passes = results.map { case (k, _, _) =>
      "\"" + k + "\":" + times.getOrElse(k, scala.collection.mutable.ArrayBuffer.empty[Double])
        .map(t => f"$t%.3f").mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val failed = results.filter(!_._3).map("\"" + _._1 + "\"").mkString("[", ",", "]")
    val total = results.filter(_._3).map(_._2).sum
    // Measurement provenance (r16 verdict): in-suite absolutes are upper
    // bounds — whether THIS run had the machine to itself is a fact the
    // artifact must carry, not one future readers infer. The runner sets
    // SPARK_GRAFT_ISOLATED=1 when nothing else shares the box.
    val isolated = sys.env.get("SPARK_GRAFT_ISOLATED").contains("1")
    val line = s"""{"metric":"total","value":$total,"unit":"sec","isolated":$isolated,"repeat":$repeat,"queries":$qs,"passes":$passes,"failed":$failed,"sf":"$sfDir"}"""
    println(line)
    // The full line ALSO lands in a file: the driver's log-tail capture
    // truncates long stdout lines (r10's artifact kept only the tail,
    // "parsed": null), so the machine-readable per-query/per-pass map
    // must survive somewhere length-proof.
    // default name carries the sf tag, the core count and whether the
    // machine was shared, so concurrent runs, runs at other scales and
    // runs on another core count or box never overwrite the committed
    // canonical artifact (BENCH_FULL_<sf>.json)
    val sfTag = new java.io.File(sfDir).getName
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      s"BENCH_FULL_${sfTag}_c$cpus${if (isolated) "" else "_shared"}.json")
    try java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case e: Throwable => System.err.println(s"[bench] write $outPath: $e") }
    // Repeat the total on its own short line (distinct metric name so a
    // line-oriented consumer selecting on "total" matches exactly once):
    // round-5 artifact capture kept only the tail of long lines,
    // truncating the total off the big one. The per-query MEDIANS ride on
    // this final line too (r19 verdict #2: the driver's round-over-round
    // comparator parses only this line, and the big line's tail-captured
    // copy truncates) — compact 3-decimal values keep the line ~6 KB;
    // existing keys are unchanged, "queries" is purely additive.
    val qsShort = results.map { case (k, v, ok) =>
      "\"" + k + "\":" + (if (ok) f"$v%.3f" else "-1")
    }.mkString("{", ",", "}")
    println(s"""{"metric":"total_short","value":$total,"unit":"sec","n_queries":${results.size},"queries":$qsShort,"failed":$failed,"sf":"$sfDir"}""")
    spark.stop()
  }
}
