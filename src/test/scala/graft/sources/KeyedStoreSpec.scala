package graft.sources

import graft.SparkSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The maintained-store lifecycle on a synthetic keyed index, hazard by
  * hazard: tombstone retirement past the replay horizon (bounded guard
  * set — the round-10 unbounded-broadcast finding), the pre-horizon
  * replay that must STAY guarded, cross-batch key re-sends (latest batch
  * wins wholesale), serving an emptied store, bounded file sizes for hot
  * partitions, and a micro-batch landing mid-compaction.
  */
class KeyedStoreSpec extends SparkSuite {
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("part", LongType),
    StructField("v", LongType)))

  private def rows(ids: Seq[Long], v: Long) =
    ids.map(i => (i, i % 3, v)).toDF("id", "part", "v")

  private def newStore(): String =
    tempDir("kstore") + "/store"

  private def serve(dir: String) =
    KeyedStore.serve(spark, dir, Seq("part"), schema, "id")

  private def servedIds(dir: String): Set[Long] =
    serve(dir).select("id").collect().map(_.getLong(0)).toSet

  private def tombCount(dir: String): Long =
    Sinks.readExisting(spark, s"$dir/_tombstones", Seq("id"))
      .map(_.count()).getOrElse(0L)

  test("a post-horizon tombstone retires at compact, and the forgotten " +
    "key still never resurfaces") {
    val dir = newStore()
    rows(0L to 9L, 1).write.parquet(s"$dir/base")
    rows(10L to 19L, 1).write.parquet(s"$dir/batch_0")
    // forget key 7 long ago (t=1000); the replay horizon has long passed
    KeyedStore.forget(spark, dir, "id", Seq(7L).toDF("id"), atMs = 1000L)
    assert(tombCount(dir) == 1)
    val (_, after) = KeyedStore.compact(spark, dir, Seq("part"), schema,
      "id", retireHorizonMs = Some(5000L), nowMs = 1000000L)
    assert(after > 0)
    // retired: the guard is gone because the delete is physical and no
    // replayable batch can predate the forget any more
    assert(tombCount(dir) == 0, "post-horizon tombstone must retire")
    assert(!servedIds(dir).contains(7L))
    // later life of the store never brings the key back: fresh ingest
    // without it, another compaction — still gone
    rows(20L to 24L, 2).write.parquet(s"$dir/batch_1")
    assert(!servedIds(dir).contains(7L))
    KeyedStore.compact(spark, dir, Seq("part"), schema, "id")
    assert(servedIds(dir) == ((0L to 24L).toSet - 7L))
  }

  test("a pre-horizon tombstone is carried, and a replayed batch that " +
    "physically resurrects the forgotten rows stays guarded") {
    val dir = newStore()
    rows(0L to 9L, 1).write.parquet(s"$dir/base")
    rows(10L to 19L, 1).write.parquet(s"$dir/batch_0")
    val now = 1000000L
    KeyedStore.forget(spark, dir, "id", Seq(12L).toDF("id"), atMs = now - 10)
    // horizon far wider than the tombstone's age: it must be carried
    KeyedStore.compact(spark, dir, Seq("part"), schema, "id",
      retireHorizonMs = Some(100000L), nowMs = now)
    assert(tombCount(dir) == 1, "pre-horizon tombstone must be carried")
    // replay re-lands batch_0 — including key 12's physical rows
    rows(10L to 19L, 1).write.parquet(s"$dir/batch_0")
    assert(!servedIds(dir).contains(12L),
      "a replayed batch must not resurface a forgotten key")
    assert(servedIds(dir) == ((0L to 19L).toSet - 12L))
  }

  test("forgetting every key and compacting leaves a store that serves " +
    "an EMPTY frame, not an exception") {
    val dir = newStore()
    rows(0L to 4L, 1).write.parquet(s"$dir/base")
    KeyedStore.forget(spark, dir, "id", (0L to 4L).toDF("id"))
    KeyedStore.compact(spark, dir, Seq("part"), schema, "id")
    val served = serve(dir)
    assert(served.count() == 0)
    assert(served.schema.fieldNames.toSeq == Seq("id", "part", "v"))
    // and a store that never existed still fails fast (the tree listing
    // surfaces the missing directory before any empty-frame fallback)
    intercept[java.io.FileNotFoundException] {
      serve(newStore() + "/nowhere")
    }
  }

  test("a key re-sent in a later micro-batch replaces its older flat " +
    "rows (latest batch wins wholesale, base ranks below every batch)") {
    val dir = newStore()
    rows(Seq(1L, 2L, 3L), v = 10).write.parquet(s"$dir/base")
    rows(Seq(3L, 4L), v = 20).write.parquet(s"$dir/batch_0")
    rows(Seq(4L, 5L), v = 30).write.parquet(s"$dir/batch_1")
    val got = serve(dir).select("id", "v").as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 10L, 2L -> 10L, 3L -> 20L, 4L -> 30L, 5L -> 30L),
      s"newest batch must win per key: $got")
    // and the upsert survives compaction + a post-compaction re-send
    KeyedStore.compact(spark, dir, Seq("part"), schema, "id")
    rows(Seq(1L), v = 40).write.parquet(s"$dir/batch_2")
    val got2 = serve(dir).select("id", "v").as[(Long, Long)].collect().toMap
    assert(got2 == Map(1L -> 40L, 2L -> 10L, 3L -> 20L, 4L -> 30L, 5L -> 30L))
  }

  test("maxRecordsPerFile splits a hot partition into bounded files " +
    "while the layout stays partition-pruned") {
    val dir = newStore()
    // one hot partition value: 900 of 1000 rows land in part=0
    (0L until 1000L).map(i => (i, if (i < 900) 0L else 1L, i))
      .toDF("id", "part", "v").write.parquet(s"$dir/base")
    KeyedStore.compact(spark, dir, Seq("part"), schema, "id",
      maxRecordsPerFile = Some(100L))
    val fs = new java.io.File(dir)
    def files(sub: String) = Option(new java.io.File(fs, sub).listFiles())
      .map(_.count(f => f.getName.endsWith(".parquet"))).getOrElse(0)
    assert(files("part=0") >= 9, "hot partition must split into >=9 files")
    assert(files("part=1") >= 1)
    assert(servedIds(dir) == (0L until 1000L).toSet)
    // partition dirs survived, so a part-filter still prunes at listing
    val pruned = serve(dir).filter(col("part") === 1L)
    assert(pruned.count() == 100)
  }

  test("rows with a NULL key pass through the cross-batch reconcile " +
    "instead of being eaten by a plain equi-join") {
    val dir = newStore()
    Seq((Some(1L), 0L, 10L), (None, 0L, 11L))
      .toDF("id", "part", "v").write.parquet(s"$dir/batch_0")
    Seq((Some(2L), 0L, 20L), (None, 0L, 21L))
      .toDF("id", "part", "v").write.parquet(s"$dir/batch_1")
    val got = serve(dir).select("v").collect().map(_.getLong(0)).toSet
    // both null-key rows survive (they are distinct records, not
    // versions of one key); keyed rows reconcile normally
    assert(got == Set(10L, 11L, 20L, 21L), s"got $got")
  }

  test("a forget() committed DURING compaction is still carried into " +
    "the swapped tree's tombstones (durable-from-this-point holds)") {
    val dir = newStore()
    rows(0L to 9L, 1).write.parquet(s"$dir/base")
    KeyedStore.compactWithHook(spark, dir, Seq("part"), schema, "id",
      None, None, 0L,
      // the concurrent forget: lands after the fold wrote its data
      () => KeyedStore.forget(spark, dir, "id", Seq(4L).toDF("id")))
    assert(tombCount(dir) == 1,
      "the mid-compaction tombstone must survive the swap")
    assert(!servedIds(dir).contains(4L),
      "the key forgotten mid-compaction must be filtered from serve")
  }

  test("replaceAll refuses to swap when an ingest batch landed since " +
    "the caller's snapshot (stale-parameter rows must not be served " +
    "or silently dropped)") {
    val dir = newStore()
    rows(0L to 9L, 1).write.parquet(s"$dir/base")
    intercept[IllegalStateException] {
      KeyedStore.replaceAll(spark, dir, Seq("part"), schema, "id",
          "g2") { live =>
        // the hazard: a batch lands while the caller retrains/re-encodes
        rows(10L to 12L, 2).write.parquet(s"$dir/batch_7")
        rows(0L to 9L, 9).join(live, Seq("id"), "left_semi")
      }
    }
    // the failed swap left the old tree fully intact, batch included
    assert(servedIds(dir) == (0L to 12L).toSet)
  }

  test("a micro-batch dir landed DURING compaction is carried into the " +
    "swapped tree instead of being deleted with the old one") {
    val dir = newStore()
    rows(0L to 9L, 1).write.parquet(s"$dir/base")
    KeyedStore.compactWithHook(spark, dir, Seq("part"), schema, "id",
      None, None, 0L,
      // the concurrent ingest: lands after the fold wrote, before the swap
      () => rows(10L to 14L, 2).write.parquet(s"$dir/batch_9"))
    assert(servedIds(dir) == (0L to 14L).toSet,
      "the mid-compaction batch must survive the swap")
    assert(new java.io.File(dir, "batch_9").isDirectory,
      "the carried batch dir must be physically present in the new tree")
  }

  test("a replayed PRE-fold batch cannot outrank a folded re-send: the " +
    "compaction watermark excludes it wholesale (newest-wins holds " +
    "ACROSS a fold, not just before it)") {
    val dir = newStore()
    // key 1 sent as v=10 (batch_0), re-sent as v=20 (batch_1); both fold
    rows(Seq(1L, 2L), v = 10).write.parquet(s"$dir/batch_0")
    rows(Seq(1L), v = 20).write.parquet(s"$dir/batch_1")
    KeyedStore.compact(spark, dir, Seq("part"), schema, "id")
    // the hazard (admissible under checkpoint-retention replay): the
    // OLDER batch replays after the fold — before the watermark, the
    // flat-shadows-hive reconcile would remove the folded v=20 and
    // serve the stale v=10
    rows(Seq(1L, 2L), v = 10).write.parquet(s"$dir/batch_0")
    val got = serve(dir).select("id", "v").as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 20L, 2L -> 10L),
      s"the folded re-send must win over the pre-fold replay: $got")
    // a batch ABOVE the watermark still wins normally
    rows(Seq(1L), v = 30).write.parquet(s"$dir/batch_2")
    assert(serve(dir).filter(col("id") === 1L).select("v")
      .collect()(0).getLong(0) == 30L)
    // the next compact cleans the stale replayed dir off disk
    KeyedStore.compact(spark, dir, Seq("part"), schema, "id")
    assert(!new java.io.File(dir, "batch_0").exists(),
      "compaction must remove the stale replayed dir")
    assert(serve(dir).filter(col("id") === 1L).select("v")
      .collect()(0).getLong(0) == 30L)
  }

  test("a pre-rotation batch replayed after the rotation fails serve " +
    "LOUDLY (generation stamp — the checkpoint-reset contract in code, " +
    "not convention)") {
    val dir = newStore()
    rows(0L to 4L, 1).write.parquet(s"$dir/base")
    // the rotation: wholesale re-index, store stamped generation g2
    KeyedStore.replaceAll(spark, dir, Seq("part"), schema, "id", "g2")(
      _ => rows(0L to 4L, 2))
    assert(KeyedStore.generation(spark, dir).contains("g2"))
    assert(servedIds(dir) == (0L to 4L).toSet)
    // the replay: a pre-rotation batch re-lands, UNSTAMPED (it was
    // written before stamps) — before this round its stale-parameter
    // rows silently won the newest-wins reconcile
    rows(Seq(0L), v = 1).write.parquet(s"$dir/batch_3")
    val e1 = intercept[IllegalStateException](serve(dir))
    assert(e1.getMessage.contains("<unstamped>"))
    // stamped with the RETIRED generation: still rejected
    KeyedStore.stampBatch(spark, dir, "batch_3", "g1")
    val e2 = intercept[IllegalStateException](serve(dir))
    assert(e2.getMessage.contains("'g1'") && e2.getMessage.contains("'g2'"))
    // compact must refuse the same way — folding stale rows into the
    // hive half would launder them past every future check
    intercept[IllegalStateException] {
      KeyedStore.compact(spark, dir, Seq("part"), schema, "id")
    }
    // a batch encoded under the CURRENT generation serves normally
    KeyedStore.stampBatch(spark, dir, "batch_3", "g2")
    val got = serve(dir).filter(col("id") === 0L).select("v")
      .collect()(0).getLong(0)
    assert(got == 1L, "a current-generation batch wins newest-wins as usual")
  }

  test("compaction carries the generation marker and stamps survive the " +
    "fold (a rotated store stays guarded through its next compact)") {
    val dir = newStore()
    rows(0L to 4L, 1).write.parquet(s"$dir/base")
    KeyedStore.replaceAll(spark, dir, Seq("part"), schema, "id", "g2")(
      _ => rows(0L to 4L, 2))
    rows(5L to 6L, 3).write.parquet(s"$dir/batch_0")
    KeyedStore.stampBatch(spark, dir, "batch_0", "g2")
    KeyedStore.compact(spark, dir, Seq("part"), schema, "id")
    assert(KeyedStore.generation(spark, dir).contains("g2"),
      "compact must carry the generation marker into the new tree")
    assert(servedIds(dir) == (0L to 6L).toSet)
    // and the carried marker still rejects a stale replay
    rows(Seq(5L), v = 1).write.parquet(s"$dir/batch_1")
    KeyedStore.stampBatch(spark, dir, "batch_1", "g1")
    intercept[IllegalStateException](serve(dir))
  }

  test("a torn (uncommitted) batch dir is neither served nor carried: " +
    "no _SUCCESS means in-flight, and its offsets replay it whole") {
    val dir = newStore()
    rows(0L to 9L, 1).write.parquet(s"$dir/base")
    // a torn dir present at SERVE time: partial part-files, no marker
    rows(10L to 12L, 2).write.parquet(s"$dir/batch_0")
    assert(new java.io.File(s"$dir/batch_0", "_SUCCESS").delete())
    assert(servedIds(dir) == (0L to 9L).toSet,
      "a dir without its writer's commit marker must not be served")
    // a torn dir landing MID-COMPACTION: not carried into the new tree
    KeyedStore.compactWithHook(spark, dir, Seq("part"), schema, "id",
      None, None, 0L,
      () => {
        rows(20L to 22L, 3).write.parquet(s"$dir/batch_5")
        assert(new java.io.File(s"$dir/batch_5", "_SUCCESS").delete())
      })
    assert(!new java.io.File(dir, "batch_5").exists(),
      "carrying a torn batch would serve a partial micro-batch as complete")
    assert(servedIds(dir) == (0L to 9L).toSet)
  }

  test("a carried batch stranded under .__swap__ by a mid-swap crash is " +
    "salvaged back into the live tree, never deleted as the only copy") {
    val dir = newStore()
    rows(0L to 9L, 1).write.parquet(s"$dir/base")
    // the crash state: a compact renamed a concurrently-landed committed
    // batch into its swap tree and died before the swap — the live tree
    // no longer holds batch_5, only .__swap__ does
    rows(10L to 14L, 2).write.parquet(s"$dir.__swap__/batch_5")
    // plus a torn (uncommitted) dir in the same wreck: NOT salvaged
    rows(20L to 22L, 3).write.parquet(s"$dir.__swap__/batch_6")
    assert(new java.io.File(s"$dir.__swap__/batch_6", "_SUCCESS").delete())
    // the next lifecycle op's swap entry must rescue batch_5 first
    KeyedStore.compact(spark, dir, Seq("part"), schema, "id")
    assert(servedIds(dir) == (0L to 14L).toSet,
      "the stranded committed batch must survive the retried compact")
    assert(!servedIds(dir).exists(id => id >= 20L),
      "a torn dir in the wreck must not be salvaged as if complete")
    assert(!new java.io.File(s"$dir.__swap__").exists())
  }

  test("landBatch lands data + stamps as ONE rename (no committed-but-" +
    "unstamped window) and a replay overwrites itself") {
    val dir = newStore()
    rows(0L to 4L, 1).write.parquet(s"$dir/base")
    KeyedStore.replaceAll(spark, dir, Seq("part"), schema, "id", "g2")(
      _ => rows(0L to 4L, 2))
    KeyedStore.landBatch(spark, dir, 0L, Some("g2"), "ck") { dst =>
      rows(Seq(9L), 3).write.parquet(dst)
    }
    assert(servedIds(dir) == (0L to 4L).toSet + 9L,
      "a landBatch-landed batch must serve under the store's generation")
    assert(!new java.io.File(dir).listFiles()
      .exists(_.getName.contains("__land__")), "no staging dir may remain")
    // the replay: same id, re-landed — replaces itself wholesale
    KeyedStore.landBatch(spark, dir, 0L, Some("g2"), "ck") { dst =>
      rows(Seq(9L, 10L), 4).write.parquet(dst)
    }
    assert(serve(dir).filter(col("id") === 9L).select("v")
      .collect()(0).getLong(0) == 4L)
    assert(servedIds(dir) == (0L to 4L).toSet ++ Set(9L, 10L))
  }

  test("a fresh-checkpoint ingest restarting batch ids below the " +
    "compaction watermark fails serve LOUDLY; a same-checkpoint replay " +
    "stays silently subsumed") {
    val dir = newStore()
    rows(0L to 4L, 1).write.parquet(s"$dir/base")
    KeyedStore.landBatch(spark, dir, 0L, None, "ckptA") { dst =>
      rows(Seq(5L, 6L), 1).write.parquet(dst)
    }
    KeyedStore.compact(spark, dir, Seq("part"), schema, "id")
    // genuine replay under the SAME checkpoint: watermark exclusion is
    // the correct, silent answer (its rows are already folded)
    KeyedStore.landBatch(spark, dir, 0L, None, "ckptA") { dst =>
      rows(Seq(5L, 6L), 1).write.parquet(dst)
    }
    assert(servedIds(dir) == (0L to 6L).toSet)
    // a FRESH checkpoint restarts ids at 0 with NEW data — before this
    // round the watermark swallowed it wholesale (silent data loss)
    KeyedStore.landBatch(spark, dir, 0L, None, "ckptB") { dst =>
      rows(Seq(7L), 2).write.parquet(dst)
    }
    val e = intercept[IllegalStateException](serve(dir))
    assert(e.getMessage.contains("ckptB") && e.getMessage.contains("ckptA"))
    // legacy unstamped dirs keep the documented silent behavior
    val fs = new java.io.File(s"$dir/batch_0")
    assert(new java.io.File(fs, "_ckpt").delete())
    assert(servedIds(dir) == (0L to 6L).toSet)
  }

  test("serve's flat-key broadcast hint is size-guarded: above the byte " +
    "bound the planner chooses freely and the result is unchanged") {
    val dir = newStore()
    rows(0L to 9L, 1).write.parquet(s"$dir/base")
    KeyedStore.compact(spark, dir, Seq("part"), schema, "id")
    rows(5L to 14L, 2).write.parquet(s"$dir/batch_1")
    def analyzed() = serve(dir).queryExecution.analyzed.toString()
    val hinted = serve(dir).select("id", "v").as[(Long, Long)].collect().toMap
    assert(analyzed().contains("ResolvedHint"),
      "under the cadence contract the hint must be present")
    spark.conf.set(KeyedStore.FlatBroadcastMaxBytes, "1")
    try {
      assert(!analyzed().contains("ResolvedHint"),
        "above the byte bound the hint must be dropped")
      val unhinted = serve(dir).select("id", "v").as[(Long, Long)]
        .collect().toMap
      assert(unhinted == hinted, "the guard may change strategy, not rows")
    } finally spark.conf.unset(KeyedStore.FlatBroadcastMaxBytes)
  }

  test("a legacy tombstone dir (no retirement stamp) is backfilled, " +
    "filters serve, and NEVER retires silently") {
    val dir = newStore()
    rows(0L to 9L, 1).write.parquet(s"$dir/base")
    // a store written before forgotten_at_ms existed: key-only layout
    Seq(3L).toDF("id").write.parquet(s"$dir/_tombstones")
    assert(!servedIds(dir).contains(3L),
      "legacy tombstones must still guard serve")
    // forget() on the legacy layout migrates in place instead of dying
    // on an unresolved column, and merges the new stamped row
    KeyedStore.forget(spark, dir, "id", Seq(4L).toDF("id"), atMs = 1000L)
    assert(tombCount(dir) == 2)
    assert(servedIds(dir) == ((0L to 9L).toSet -- Set(3L, 4L)))
    // compact far past the horizon: the stamped tombstone retires, the
    // legacy one (backfilled Long.MaxValue) is carried — retiring it
    // would unguard replays the operator believed guarded
    KeyedStore.compact(spark, dir, Seq("part"), schema, "id",
      retireHorizonMs = Some(5000L), nowMs = 1000000L)
    assert(tombCount(dir) == 1,
      "stamped tombstone retires; the legacy backfill must not")
    assert(servedIds(dir) == ((0L to 9L).toSet -- Set(3L, 4L)))
  }

  test("ckptIdentity follows checkpoint CONTENT, not path: a wiped-and-" +
    "recreated checkpoint at the same path gets a new identity") {
    val dir = tempDir("ckpt_id") + "/ck"
    val a = KeyedStore.ckptIdentity(spark, Some(dir))
    assert(a == KeyedStore.ckptIdentity(spark, Some(dir)),
      "restarts of the SAME checkpoint must read the same identity back")
    // the practical "fresh checkpoint": wipe and reuse the same path —
    // batch ids restart at 0, so the identity MUST change or the serve
    // gate would silently swallow the restarted batches
    new scala.reflect.io.Directory(new java.io.File(dir)).deleteRecursively()
    assert(KeyedStore.ckptIdentity(spark, Some(dir)) != a,
      "a wiped-and-recreated checkpoint is a new batch sequence")
    assert(KeyedStore.ckptIdentity(spark, None)
      != KeyedStore.ckptIdentity(spark, None),
      "ephemeral-checkpoint definitions never resume: fresh token each")
  }
}
