package graft.queries

import graft.SparkSuite
import org.apache.spark.sql.functions._

/** `spark.graft.ivf.nprobe` / `spark.graft.ivf.cells` lift the IVF-PQ
  * probe depth and coarse cell count out of the code (the
  * `spark.graft.shards` template): the static oracle SQL certifies the
  * defaults (nprobe=2, cells=8 — graft.OracleDefaults fails the Verify
  * gate fast on anything else); production tunes nprobe per recall
  * budget without touching the persisted index, and cells per corpus
  * size (which trains a DIFFERENT index — the conf is part of the
  * staged-artifact key).
  *
  * The recall-vs-nprobe curve is the number a capacity planner actually
  * tunes; these specs publish it through the same certified eval the
  * oracle gates at the default.
  */
class IvfConfSpec extends SparkSuite {

  private def withConf[A](key: String, v: Option[String])(body: => A): A = {
    val old = spark.conf.getOption(key)
    v.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    try body
    finally old.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }
  private def withNprobe[A](n: Int)(body: => A): A =
    withConf("spark.graft.ivf.nprobe", Some(n.toString))(body)

  private def rrHits(): Long =
    SimilarityQueries.simIvfpqRrRecall(spark, sf)
      .agg(sum("n_hits")).collect()(0).getLong(0)

  test("reranked recall is monotone in nprobe on this corpus " +
    "(the capacity-planner curve; index built once, probed at 3 depths)") {
    // Monotonicity is not provable in general (a wider candidate pool can
    // evict a true neighbor from a fixed-depth ADC shortlist), but it is
    // the measured shape here at every step — DuckDB replica on sf0.01:
    // ADC 32/47/51/52 and reranked 73/110/148/174 hits at nprobe
    // 1/2/4/8. Locking the measured fact keeps the knob's sales pitch
    // ("more nprobe buys recall") honest on the shipped corpus.
    val curve = Seq(1, 2, 4).map(np => np -> withNprobe(np)(rrHits()))
    info(s"rerank hits by nprobe: ${curve.mkString(", ")}")
    assert(curve.map(_._2) == curve.map(_._2).sorted,
      s"reranked recall should not decrease with nprobe: $curve")
    assert(curve.head._2 < curve.last._2,
      s"probing 4x the cells should strictly improve recall here: $curve")
  }

  private def semRecallBp(): Long =
    SimilarityQueries.ddSemRecall(spark, sf)
      .collect()(0).getAs[Long]("recall_bp")

  test("semantic-decontamination recall is monotone in nprobe on this " +
    "corpus (the sem-family twin of the rerank curve above: the miss " +
    "rate dd_sem_recall certifies is BOUGHT DOWN by probing more cells)") {
    // Same honesty note as the rerank curve: monotonicity is a measured
    // fact on the shipped corpus, not a theorem (a wider cell pool can
    // evict a true pair from the fixed PqR shortlist). The knob's
    // contract — "nprobe buys decontamination recall" — is certified
    // here at the same depths production would sweep.
    val curve = Seq(1, 2, 4, 8).map(np => np -> withNprobe(np)(semRecallBp()))
    info(s"dd_sem_recall bp by nprobe: ${curve.mkString(", ")}")
    assert(curve.map(_._2) == curve.map(_._2).sorted,
      s"sem recall should not decrease with nprobe: $curve")
  }

  test("probe at non-default nprobe stays structurally sound " +
    "(full rank sets, no self-matches)") {
    for (np <- Seq(1, 4)) withNprobe(np) {
      val r = SimilarityQueries.simIvfpq(spark, sf)
      val perQuery = r.groupBy("query_id")
        .agg(count(lit(1)).as("n"), min("rank").as("lo"), max("rank").as("hi"))
      assert(perQuery.filter(
        col("n") =!= 5 || col("lo") =!= 1 || col("hi") =!= 5).count() == 0)
      assert(r.filter(col("query_id") === col("neighbor_id")).count() == 0)
    }
  }

  test("cells conf trains a distinct staged index and serves green") {
    withConf("spark.graft.ivf.cells", Some("4")) {
      val r = SimilarityQueries.simIvfpq(spark, sf)
      assert(r.groupBy("query_id").count()
        .filter(col("count") =!= 5).count() == 0)
      // 4-cell coarse quantizer: every assigned cid in [0, 4)
      val (coarse, _, codes) = SimilarityQueries.ivfpqIndex(spark, sf)
      assert(coarse.count() == 4)
      assert(codes.filter(col("cid") < 0 || col("cid") >= 4).count() == 0)
    }
  }

  test("a single-query probe READS only its nprobe cells' partitions " +
    "once the cost model says pruning pays (scan metrics, not plan text)") {
    // The plan lock (PlanShapeSpec) proves the dynamicpruningexpression
    // is inserted; this proves it ACTS. Two facts the investigation
    // behind this test established (round 9, full numbers in
    // BENCH_NOTES): (1) reuse-only DPP — the default — can NEVER engage
    // for a hinted broadcast join over the staged index: the filter
    // silently degrades to `true`, which is why the production sessions
    // set reuseBroadcastOnly=false (SparkSuite/Verify/Bench). (2) With
    // standalone subqueries allowed, engagement is decided by
    // pruningHasBenefit — at this 4 000-row toy artifact Spark CORRECTLY
    // declines (benefit < subquery overhead); at a production-sized
    // codes table the same model engages. The test forces the at-scale
    // verdict through the cost-model knobs and asserts the scan then
    // reads exactly the nprobe=2 probed cells' files: 2 of 8.
    val knobs = Seq(
      "spark.sql.optimizer.dynamicPartitionPruning.useStats" -> "false",
      "spark.sql.optimizer.dynamicPartitionPruning.fallbackFilterRatio" ->
        "100000")
    val olds = knobs.map { case (k, _) => k -> spark.conf.getOption(k) }
    knobs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val (coarse, rcent, codes) = SimilarityQueries.ivfpqIndex(spark, sf)
      val one = graft.Tables.embeddings(spark, sf)
        .filter(col("vec_id") === 0)
      val df = SimilarityQueries.ivfpqProbe(one, coarse, rcent, codes)
      // execute THIS QueryExecution: a write/count would plan a fresh one
      // and leave these nodes' metrics untouched
      assert(df.collect().length == 5)
      def walk(p: org.apache.spark.sql.execution.SparkPlan): Seq[Long] = {
        import org.apache.spark.sql.execution.adaptive.{
          AdaptiveSparkPlanExec, QueryStageExec}
        val here = p match {
          case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
          case q: QueryStageExec => walk(q.plan)
          case f: org.apache.spark.sql.execution.FileSourceScanExec
              if f.metadata.get("Location")
                .exists(_.contains("ivfpq_codes")) =>
            Seq(f.metrics("numFiles").value)
          case _ => Nil
        }
        here ++ p.children.flatMap(walk) ++ p.subqueries.flatMap(walk)
      }
      val scans = walk(df.queryExecution.executedPlan).filter(_ > 0)
      assert(scans.nonEmpty, "executed codes scan not found")
      assert(scans.forall(_ <= 2),
        s"expected the codes scan to read <=2 of 8 cell files, read: $scans")
    } finally olds.foreach { case (k, o) =>
      o.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  test("at a production-proportioned cell count the scan prune engages " +
    "NATURALLY — no cost-model knobs (sf0.01, cells=64, single query)") {
    // The knob-forced test above certifies the at-scale verdict at toy
    // scale; this one removes the knobs entirely. Two ingredients make
    // pruningHasBenefit engage on its own: (1) cells=64 — a
    // production-proportioned cell count for the sf0.01 corpus (the
    // ~sqrt(N) Faiss rule), so one cell's file is a small fraction of
    // the store; (2) the probe side is the STAGED query batch
    // (SimilarityQueries.queryBatch) — a filter-over-corpus query side
    // would carry the corpus file's size estimate and the cost model
    // would (correctly, by its own numbers) conclude the pruning
    // subquery costs a corpus scan. Round-10 measurements (BENCH_NOTES,
    // "IVF-PQ scan prune, un-forced"): 2/64 files here and at the
    // 100×/1000× rungs, with wall-clock 1.4× at 1000×.
    val d01 = "/root/testdata/sf0.01"
    withConf("spark.graft.ivf.cells", Some("64")) {
      val (coarse, rcent, codes) = SimilarityQueries.ivfpqIndex(spark, d01)
      val df = SimilarityQueries.ivfpqProbe(
        SimilarityQueries.queryBatch(spark, d01, 1L), coarse, rcent, codes)
      assert(df.collect().length == 5)
      def walk(p: org.apache.spark.sql.execution.SparkPlan): Seq[Long] = {
        import org.apache.spark.sql.execution.adaptive.{
          AdaptiveSparkPlanExec, QueryStageExec}
        val here = p match {
          case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
          case q: QueryStageExec => walk(q.plan)
          case f: org.apache.spark.sql.execution.FileSourceScanExec
              if f.metadata.get("Location")
                .exists(_.contains("ivfpq_codes")) =>
            Seq(f.metrics("numFiles").value)
          case _ => Nil
        }
        here ++ p.children.flatMap(walk) ++ p.subqueries.flatMap(walk)
      }
      val scans = walk(df.queryExecution.executedPlan).filter(_ > 0)
      assert(scans.nonEmpty, "executed codes scan not found")
      // NOTE this asserts a Spark COST-MODEL decision (pruningHasBenefit
      // over real file sizes + autoBroadcastJoinThreshold), not graft
      // code: a Spark version bump or regenerated testdata can flip it
      // to 64/64 without any bug here. If it fires with no graft diff,
      // re-measure against BENCH_NOTES round 10 ("IVF-PQ scan prune,
      // un-forced") before touching the query code.
      assert(scans.forall(_ <= 2),
        s"un-forced prune read ${scans.mkString(",")} of 64 cell files " +
          "(expected <=nprobe=2). This is a cost-model regression check: " +
          "see the NOTE above this assert before blaming the query.")
    }
  }

  test("a QUIESCED maintained store (batches folded, tombstones retired) " +
    "serves one prunable scan: probes through KeyedStore.serve read " +
    "<=nprobe of 64 cell files, no cost-model knobs") {
    // The serve() reconcile (union + anti-joins) necessarily blocks DPP
    // while the store has churn; this locks the other half of the
    // contract — compaction with retirement RESTORES scan-prunability
    // end to end through the store path, not just for the staged index.
    import spark.implicits._
    val d01 = "/root/testdata/sf0.01"
    withConf("spark.graft.ivf.cells", Some("64")) {
      val (coarse, rcent, codes) = SimilarityQueries.ivfpqIndex(spark, d01)
      val dir = tempDir("quiesced") + "/store"
      codes.write.mode("overwrite").parquet(s"$dir/base")
      graft.sources.KeyedStore.forget(spark, dir, "vec_id",
        Seq(123L).toDF("vec_id"), atMs = 1000L)
      graft.sources.KeyedStore.compact(spark, dir, Seq("cid"), codes.schema,
        "vec_id", retireHorizonMs = Some(5000L), nowMs = 1000000L)
      assert(!new java.io.File(dir, "_tombstones").exists(),
        "a fully-retired guard set must leave no tombstone dir")
      val served = graft.sources.KeyedStore.serve(spark, dir, Seq("cid"),
        codes.schema, "vec_id")
      val df = SimilarityQueries.ivfpqProbe(
        SimilarityQueries.queryBatch(spark, d01, 1L), coarse, rcent, served)
      assert(df.collect().nonEmpty)
      def walk(p: org.apache.spark.sql.execution.SparkPlan): Seq[Long] = {
        import org.apache.spark.sql.execution.adaptive.{
          AdaptiveSparkPlanExec, QueryStageExec}
        val here = p match {
          case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
          case q: QueryStageExec => walk(q.plan)
          case f: org.apache.spark.sql.execution.FileSourceScanExec
              if f.metadata.get("Location").exists(_.contains("quiesced")) =>
            Seq(f.metrics("numFiles").value)
          case _ => Nil
        }
        here ++ p.children.flatMap(walk) ++ p.subqueries.flatMap(walk)
      }
      val scans = walk(df.queryExecution.executedPlan).filter(_ > 0)
      assert(scans.nonEmpty, "executed store scan not found")
      // same cost-model caveat as the staged-index test above
      assert(scans.forall(_ <= 2),
        s"quiesced store probe should read <=nprobe=2 of 64 cell files: $scans")
    }
  }

  test("a NON-quiesced maintained store (one pending batch, one LIVE " +
    "tombstone) still prunes the compacted hive half: the cell-pruned " +
    "serve reads <=nprobe of 64 hive cell files, no cost-model knobs") {
    // The round-11 residual, closed with an honest twist. Feared: the
    // union+anti-join reconcile hides the hive scan from DPP, so a
    // store with ANY churn (its steady state) full-scans the compacted
    // 99.9% on every probe. Measured (BENCH_NOTES round 12, "Busy-store
    // DPP"):
    // this Spark's DPP reaches the scan through the plain reconcile in
    // most shapes — but whether it ENGAGES is a cost-model estimate.
    // The cell-pruned path (`partPrune`: the probe's cells semi-joined
    // onto each leg BEFORE the union) puts a join directly over the
    // hive scan, making the prune hold by construction — which is what
    // lets THIS test lock it at the scan-metrics level without the
    // cost-model caveat owning the store's steady-state read cost.
    import spark.implicits._
    val d01 = "/root/testdata/sf0.01"
    withConf("spark.graft.ivf.cells", Some("64")) {
      val (coarse, rcent, codes) = SimilarityQueries.ivfpqIndex(spark, d01)
      val dir = tempDir("busystore") + "/store"
      // bulk compacted into cid=*/ dirs; a tail batch stays PENDING and
      // one key is freshly forgotten — the store never quiesces here
      codes.filter(col("vec_id") % 97 =!= 0)
        .write.mode("overwrite").parquet(s"$dir/base")
      graft.sources.KeyedStore.compact(spark, dir, Seq("cid"), codes.schema,
        "vec_id")
      codes.filter(col("vec_id") % 97 === 0)
        .write.mode("overwrite").parquet(s"$dir/batch_1")
      graft.sources.KeyedStore.forget(spark, dir, "vec_id",
        Seq(123L).toDF("vec_id"))
      val df = SimilarityQueries.ivfpqProbeFrom(
        SimilarityQueries.queryBatch(spark, d01, 1L), coarse, rcent,
        cells => graft.sources.KeyedStore.serve(spark, dir, Seq("cid"),
          codes.schema, "vec_id", partPrune = Some(cells)))
      assert(df.collect().length == 5)
      def walk(p: org.apache.spark.sql.execution.SparkPlan): Seq[(String, Long)] = {
        import org.apache.spark.sql.execution.adaptive.{
          AdaptiveSparkPlanExec, QueryStageExec}
        val here = p match {
          case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
          case q: QueryStageExec => walk(q.plan)
          case f: org.apache.spark.sql.execution.FileSourceScanExec
              if f.metadata.get("Location").exists(_.contains("busystore")) =>
            Seq((f.metadata("Location"), f.metrics("numFiles").value))
          case _ => Nil
        }
        here ++ p.children.flatMap(walk) ++ p.subqueries.flatMap(walk)
      }
      val scans = walk(df.queryExecution.executedPlan).filter(_._2 > 0)
      val hive = scans.filter(_._1.contains("cid=")).map(_._2)
      val flat = scans.filter(_._1.contains("batch_1")).map(_._2)
      assert(flat.nonEmpty,
        "the pending batch must be read — a quiesced-path shortcut here " +
          "would mean the test lost its premise")
      assert(hive.nonEmpty, "executed hive-half scan not found")
      // same cost-model caveat as the staged-index test above
      assert(hive.forall(_ <= 2),
        s"non-quiesced store probe should read <=nprobe=2 of 64 hive " +
          s"cell files, read: $hive (flat: $flat)")
    }
  }

  test("out-of-range knobs are rejected") {
    intercept[IllegalArgumentException] {
      withNprobe(0)(SimilarityQueries.simIvfpq(spark, sf))
    }
    intercept[IllegalArgumentException] {
      // nprobe must not exceed the cell count
      withNprobe(9)(SimilarityQueries.simIvfpq(spark, sf))
    }
    intercept[IllegalArgumentException] {
      withConf("spark.graft.ivf.cells", Some("0")) {
        SimilarityQueries.simIvfpq(spark, sf)
      }
    }
  }
}
