package graft
import org.apache.spark.sql.SparkSession
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // dev knob: SPARK_GRAFT_CONF="k=v;k2=v2" overlays session confs for
    // isolated A/Bs (e.g. measuring the DPP scan prune by switching
    // spark.sql.optimizer.dynamicPartitionPruning.enabled off); the
    // driver leaves it unset. Session applies it after the contract
    // confs, so an overlapping key really overrides.
    val extraConf = sys.env.get("SPARK_GRAFT_CONF").toSeq
      .flatMap(_.split(";")).map(_.trim).filter(_.contains("="))
      .map { kv => val Array(k, v) = kv.split("=", 2); (k, v) }
    val spark = Session(extraConf)

    // the timed action materializes EVERY column through the `noop` sink:
    // a bare count() would let Catalyst prune the projections being
    // measured (a row-preserving query like emb_quantize collapses to a
    // parquet row count) and EliminateSorts drop every final ORDER BY —
    // timing a different, cheaper plan than the one the oracle certified
    // job description = query name (guide §1.5): pure scheduler metadata
    // so event-log/UI attribution is per-query instead of time-sliced —
    // the timed region and the plan are unchanged
    def run(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame,
            dir: String, label: String = ""): Unit = {
      // restore (not null out) any enclosing description: run() stays
      // nest-safe if a future harness wraps it in a labeled scope
      val prev = spark.sparkContext.getLocalProperty("spark.job.description")
      if (label.nonEmpty) spark.sparkContext.setJobDescription(label)
      try fn(spark, dir).write.format("noop").mode("overwrite").save()
      finally if (label.nonEmpty) spark.sparkContext.setJobDescription(prev)
    }

    // Standard JVM benchmarking shape:
    //  1. one pass at the tiny SF initializes codegen, broadcast machinery
    //     and shuffle services cheaply for every plan shape;
    //  2. each query then runs 3× at the bench SF and reports the MIN —
    //     the first run absorbs C2 JIT of the generated code's hot loops
    //     (round 1 measured 18 s cold vs 5 s warm on dd_ngram_jaccard from
    //     first-run compilation alone), and min-of-3 reports steady-state
    //     plan cost rather than host/VM scheduling noise.
    val warmupDir = "/root/testdata/sf0.001"
    // SPARK_GRAFT_ONLY=a1_fact_order_daily,p12_hash_ids runs a subset
    // (isolated-vs-full-suite drift bisection)
    val selected = SparkEntry.selected()
    selected.foreach { case (name, fn) =>
      try run(fn, warmupDir, s"warmup:$name") catch { case _: Throwable => () }
    }
    // results carry (min-of-3, run-1 wall): run 1 of a staged-artifact
    // query pays its session-scoped staging build (e.g. sim_ivfpq_rot
    // ~18 s run 1 vs ~0.8 s runs 2-3) — min-of-3 excludes that by the
    // staged-index doctrine, and the run1 field makes the excluded
    // cold-build cost self-documenting instead of event-log archaeology.
    // Additions-only: the timed region, min-of-3 and the headline line
    // are byte-identical to the r14 harness.
    val results = selected.map { case (name, fn) =>
      val times = (1 to 3).map { i =>
        val t0 = System.nanoTime()
        val ok = try { run(fn, sfDir, s"$name#$i"); true }
                 catch { case _: Throwable => false }
        (ok, (System.nanoTime() - t0) / 1e9)
      }
      val good = times.collect { case (true, t) => t }
      // -1 marks a query that failed on every attempt — a crashing query
      // must read as broken, not as the suite's fastest entry
      name -> (if (good.nonEmpty) good.min else -1.0,
               if (times.head._1) times.head._2 else -1.0)
    }
    val failed = results.collect { case (k, (v, _)) if v < 0 => k }.toSeq.sorted
    // failures are EXCLUDED from the total (the sentinel would subtract
    // from it, making a broken suite read faster) and listed explicitly
    val total = results.values.map(_._1).filter(_ >= 0).sum
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    def fmt(v: Double): String = if (v < 0) "-1.0" else f"$v%.3f"
    // full per-query detail first — the collector keeps only the LAST
    // ~2000 chars of stdout, so this line is for local analysis and the
    // committed BENCH_NOTES, not the driver
    val qsAll = results.map { case (k, (v, _)) => "\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    val qsRun1 = results.map { case (k, (_, r1)) => "\"" + k + "\":" + fmt(r1) }
      .mkString("{", ",", "}")
    println(s"""{"metric":"detail","value":$total,"unit":"sec","n":${results.size},"queries":$qsAll,"run1":$qsRun1,"failed":$failedJson,"sf":"$sfDir"}""")
    // THE metric line, last and compact (<2000 chars): the driver's tail
    // window truncated the 151-query line in r5/r6 and recorded
    // parsed=None — headline set = flagship + the most expensive family
    // representatives, so the graded line always parses
    val headline = Vector(
      "a1_fact_order_daily", "ev_daily_agg", "j3_inner_agg", "j4_star_broadcast",
      "tpch_q1", "tpch_q7", "tpch_q22", "w3_rolling", "sk_kmv", "qr_report",
      "d1_latest_wins", "o2_topk", "ev_overlap", "ev_asof", "pr_copurchase",
      "gr_triangles", "dd_minhash_lsh", "dd_minhash_scaled", "dd_ngram_jaccard",
      "dd_substring", "dd_incremental", "dd_contaminate", "txt_winnow",
      "txt_chunks", "txt_nb_quality", "emb_kmeans", "sim_ivf_topk", "sim_pq",
      "sim_pq_rerank", "sim_ivfpq", "sim_ivfpq_incr", "sim_ivfpq_store",
      "sim_ivfpq_rot", "pipe_rag_ann",
      "pipe_rag_hybrid", "ds_shuffle", "ds_pack", "pipe_curate", "pipe_shards")
    val qsHead = headline.flatMap(k =>
        results.get(k).map { case (v, _) => "\"" + k + "\":" + fmt(v) })
      .mkString("{", ",", "}")
    // failed NAMES ride the headline too (tiny when nonempty): the detail
    // line that also carries them is exactly what the tail window drops
    println(s"""{"metric":"total","value":${fmt(total)},"unit":"sec","n":${results.size},"nfailed":${failed.size},"failed":$failedJson,"queries":$qsHead,"sf":"$sfDir"}""")
    spark.stop()
  }
}
