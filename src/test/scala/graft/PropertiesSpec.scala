package graft

import graft.normalize.Drift
import graft.operators.Dedup
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property-based invariants (SURVEY §5): dedup idempotence, coalesce
  * totality, daily-aggregate arithmetic. Raw ScalaCheck generators sampled
  * over fixed seeds (no scalatest bridge in the offline cache).
  */
class PropertiesSpec extends SparkSuite {
  import spark.implicits._

  private def samples[T](g: Gen[T], n: Int): Seq[T] =
    (1 to n).flatMap(i => g.apply(Gen.Parameters.default, Seed(i.toLong)))

  private val keyGen = Gen.chooseNum(0L, 20L)
  private val rowsGen = Gen.listOfN(60,
    Gen.zip(keyGen, Gen.chooseNum(0L, 1000000L), Gen.chooseNum(0.0, 500.0)))

  test("property: latestWins is idempotent and keeps exactly one row per key") {
    for (rows <- samples(rowsGen, 5) if rows.nonEmpty) {
      val df = rows.toDF("k", "ord", "v")
      val once = Dedup.latestWins(df, Seq("k"), Seq($"ord".desc, $"v".desc))
      val twice = Dedup.latestWins(once, Seq("k"), Seq($"ord".desc, $"v".desc))
      val keys = rows.map(_._1).distinct.size.toLong
      assert(once.count() == keys)
      assert(twice.collect().toSet == once.collect().toSet)
    }
  }

  test("property: status normalization is total and lands in the closed bucket set") {
    val statusGen = Gen.oneOf(
      Gen.oneOf("failed", "FAIL", "Error", "success", "PAID", "Completed", "pending"),
      Gen.alphaNumStr.map(_.take(12)))
    for (statuses <- samples(Gen.listOfN(30, statusGen), 5) if statuses.nonEmpty) {
      val got = statuses.toDF("s").select(Drift.normalizeStatus($"s")).as[String].collect()
      assert(got.length == statuses.length)
      got.zip(statuses).foreach { case (norm, raw) =>
        val lc = raw.trim.toLowerCase
        if (Seq("failed", "fail", "error").contains(lc)) assert(norm == "failed")
        else if (Seq("success", "successful", "completed", "paid").contains(lc)) assert(norm == "success")
        else assert(norm == lc)
      }
    }
  }

  test("property: dispatched timestamp parse equals the plain format cascade") {
    // the dispatch guards must be NECESSARY conditions for their gated
    // formats — fuzz dialect strings, truncations, exotic year widths,
    // offsets, and garbage, and demand bit-equal agreement with the
    // undisguised coalesce cascade parseTimestampMulti replaced
    val dialectGen: Gen[String] = {
      val y = Gen.chooseNum(1990, 2120)
      val mo = Gen.chooseNum(1, 12); val dd = Gen.chooseNum(1, 28)
      val hh = Gen.chooseNum(0, 23); val mi = Gen.chooseNum(0, 59)
      val ss = Gen.chooseNum(0, 59)
      def p(n: Int) = f"$n%02d"
      val base = Gen.zip(y, Gen.zip(mo, dd), Gen.zip(hh, mi), ss)
      Gen.oneOf(
        base.map { case (a, (b, c), (d, e), f) => s"$a-${p(b)}-${p(c)}T${p(d)}:${p(e)}:${p(f)}" },
        base.map { case (a, (b, c), (d, e), f) => s"$a-${p(b)}-${p(c)}T${p(d)}:${p(e)}:${p(f)}Z" },
        base.map { case (a, (b, c), (d, e), f) => s"$a-${p(b)}-${p(c)}T${p(d)}:${p(e)}:${p(f)}+05:30" },
        base.map { case (a, (b, c), (d, e), f) => s"$a-${p(b)}-${p(c)} ${p(d)}:${p(e)}:${p(f)}" },
        base.map { case (a, (b, c), (d, e), _) => s"$a-${p(b)}-${p(c)} ${p(d)}:${p(e)}" },
        base.map { case (a, (b, c), (d, e), f) => s"$a/${p(b)}/${p(c)} ${p(d)}:${p(e)}:${p(f)}" },
        // exotic year widths probe the length-based dispatch arms
        base.map { case (_, (b, c), (d, e), f) => s"12345-${p(b)}-${p(c)} ${p(d)}:${p(e)}:${p(f)}" },
        base.map { case (_, (b, c), (d, e), f) => s"123-${p(b)}-${p(c)}T${p(d)}:${p(e)}:${p(f)}" },
        Gen.chooseNum(1000000000L, 99999999999L).map(_.toString),
        Gen.numStr.map(_.take(12)),
        Gen.alphaNumStr.map(_.take(24)),
        Gen.const(""),
        // truncations and padding of a valid ISO string
        base.map { case (a, (b, c), (d, e), f) => s"$a-${p(b)}-${p(c)}T${p(d)}:${p(e)}:${p(f)}".dropRight(3) },
        base.map { case (a, (b, c), (d, e), f) => s"  $a-${p(b)}-${p(c)} ${p(d)}:${p(e)}:${p(f)}  " })
    }
    for (strs <- samples(Gen.listOfN(200, dialectGen), 5) if strs.nonEmpty) {
      val df = strs.toDF("s")
        .select($"s", Drift.parseTimestampMulti($"s").as("fast"),
          Drift.parseTimestampCascade($"s").as("ref"))
      val diff = df.filter(!($"fast" <=> $"ref")).collect()
      assert(diff.isEmpty,
        s"dispatch diverges from cascade on: ${diff.take(5).mkString(", ")}")
    }
  }

  test("property: coalesce-chain totality — result is first non-null or null") {
    val optGen = Gen.option(Gen.alphaNumStr.map(_.take(6)))
    for (rows <- samples(Gen.listOfN(25, Gen.zip(optGen, optGen, optGen)), 5)
         if rows.nonEmpty) {
      val got = rows.toDF("a", "b", "c")
        .select(coalesce($"a", $"b", $"c")).as[Option[String]].collect()
      got.zip(rows).foreach { case (g, (a, b, c)) =>
        assert(g == a.orElse(b).orElse(c))
      }
    }
  }

  test("property: daily aggregate net = gross - refunds and counts are consistent") {
    val ordersGen = Gen.listOfN(20, Gen.zip(
      Gen.chooseNum(1, 5).map(d => java.sql.Date.valueOf(f"2024-01-$d%02d")),
      Gen.oneOf("v_a", "v_b")))
    for (os <- samples(ordersGen, 5) if os.nonEmpty) {
      val orders = os.zipWithIndex
        .map { case ((dt, v), i) => (s"o$i", dt, v) }.toDF("order_id", "odate", "vendor")
      val payments = os.indices.map(i => (s"o$i", (i % 7) * 10.0,
        if (i % 3 == 0) "success" else "failed")).toDF("order_id", "amount", "status")
      val refunds = os.indices.filter(_ % 4 == 0)
        .map(i => (s"o$i", 5.0)).toDF("order_id", "amount")
      val daily = graft.operators.DailyRevenue.dailyAggregate(
        orders, "order_id", $"odate", $"vendor",
        payments, "order_id", $"amount", $"status",
        refunds, "order_id", $"amount").collect()
      daily.foreach { r =>
        assert(r.getAs[Double]("net_revenue") ==
          r.getAs[Double]("gross_revenue") - r.getAs[Double]("total_refunds"))
        assert(r.getAs[Long]("order_count") > 0)
      }
      assert(daily.map(_.getAs[Long]("order_count")).sum == os.size)
    }
  }

  test("property: least-chain winnow equals the slice+array_min reference") {
    import graft.functions.TextFns
    // the round-4 rewrite replaced the per-position slice+array_min with
    // a least() chain — lock equivalence on random hash arrays
    val hashGen = Gen.listOfN(12, Gen.hexStr.map(_.take(8).padTo(8, '0')))
    for ((hs, i) <- samples(hashGen, 8).zipWithIndex if hs.nonEmpty) {
      val df = Seq((i.toLong, hs)).toDF("id", "h")
      def ref(w: Int) = {
        val wins = when(size($"h") >= w,
          transform(sequence(lit(1), size($"h") - (w - 1)),
            j => array_min(slice($"h", j, lit(w)))))
          .otherwise(array(array_min($"h")))
        array_distinct(wins)
      }
      for (w <- Seq(2, 4, 7, 15)) {
        val got = df.select(TextFns.winnowFromHashes($"h", w)).collect()
        val want = df.select(ref(w)).collect()
        assert(got.map(_.getSeq[String](0)).toSeq ==
          want.map(_.getSeq[String](0)).toSeq, s"w=$w hs=$hs")
      }
    }
  }

  test("property: token-hash shingles share a hash iff the token windows match") {
    // the staged token-hash shingle scheme must preserve string-shingle
    // equality semantics: same n-token window ⇒ same hash, different
    // windows ⇒ different hashes (on the sampled universe)
    val tokGen = Gen.listOfN(8, Gen.oneOf("alpha", "beta", "gamma", "delta", "x"))
    val docs = samples(tokGen, 12).distinct
    val n = 3
    val df = docs.zipWithIndex.map { case (tk, i) => (i.toLong, tk.mkString(" ")) }
      .toDF("doc_id", "text")
      .select($"doc_id", graft.functions.TextFns.tokens($"text").as("tk"))
      .select($"doc_id", transform($"tk", t => xxhash64(t)).as("th"), $"tk")
      .select($"doc_id",
        when(size($"th") >= n,
          transform(sequence(lit(1), size($"th") - (n - 1)),
            j => xxhash64((0 until n).map(k => element_at($"th", (j + k).cast("int"))): _*)))
          .otherwise(array(xxhash64(concat_ws(" ", $"tk")))).as("hashes"),
        when(size($"tk") >= n,
          transform(sequence(lit(1), size($"tk") - (n - 1)),
            j => concat_ws(" ", (0 until n).map(k => element_at($"tk", (j + k).cast("int"))): _*)))
          .otherwise(array(concat_ws(" ", $"tk"))).as("strings"))
      .collect()
    // build the global hash→string map; any clash is a semantics break
    val seen = scala.collection.mutable.Map[Long, String]()
    df.foreach { r =>
      r.getSeq[Long](1).zip(r.getSeq[String](2)).foreach { case (h, s) =>
        seen.get(h).foreach(prev => assert(prev == s, s"hash clash: $prev vs $s"))
        seen(h) = s
      }
    }
    assert(seen.values.toSet.size == seen.size) // injective on the sample
  }

  test("property: temperature quotas sum to exactly TempTotal and respect α-order") {
    // largest-remainder correctness over random source-size profiles: the
    // quotas must sum EXACTLY to the requested total (no ±k drift), and a
    // strictly larger source never gets a smaller quota (monotonicity of
    // cnt^α allocation). Checked through the public query on synthetic
    // parquet written per sample.
    // 6 sources of 50..400 always satisfy the quota ≤ cnt precondition:
    // the worst share is 200·sqrt(50)/(6·sqrt(50)) = 33 ≤ 50
    val cntsGen = Gen.listOfN(6, Gen.chooseNum(50L, 400L))
    for ((cnts, si) <- samples(cntsGen, 4).zipWithIndex) {
      val dir = tempDir(s"temp_prop$si")
      var id = 0L
      val rows = cnts.zipWithIndex.flatMap { case (c, s) =>
        (1L to c).map { _ => id += 1; (id, s"src$s", "en", 10L, s"tok$id words") }
      }
      rows.toDF("doc_id", "source", "lang", "n_chars", "text")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val got = graft.queries.Curation.dsTemperature(spark, dir)
        .groupBy("source").agg(max("quota").as("q"), count(lit(1)).as("n"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
      // every source's selection fills its quota exactly, totals are exact
      got.foreach { case (_, q, n) => assert(q == n) }
      assert(got.map(_._3).sum == 200L)
      val bySrc = got.map(t => t._1 -> t._2).toMap
      for (a <- cnts.indices; b <- cnts.indices
           if cnts(a) > cnts(b) && bySrc.contains(s"src$a") && bySrc.contains(s"src$b"))
        assert(bySrc(s"src$a") >= bySrc(s"src$b"),
          s"bigger source src$a quota ${bySrc(s"src$a")} < src$b ${bySrc(s"src$b")}")
    }
  }

  test("ds_temperature fails loudly when flattening over-allocates a tiny source") {
    // cnts (1, 400, 400): the tiny source's α-share is 200·1/41 ≈ 4 > 1
    // doc — a silent shortfall under proportional-style selection; the
    // quota guard must raise instead
    val dir = tempDir("temp_guard")
    var id = 0L
    val rows = Seq(1L, 400L, 400L).zipWithIndex.flatMap { case (c, s) =>
      (1L to c).map { _ => id += 1; (id, s"src$s", "en", 10L, s"tok$id words") }
    }
    rows.toDF("doc_id", "source", "lang", "n_chars", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val e = intercept[Exception] {
      graft.queries.Curation.dsTemperature(spark, dir).collect()
    }
    assert(e.getMessage.contains("quota exceeds stratum size")
      || e.getCause != null && e.getCause.getMessage.contains("quota exceeds stratum size"),
      e.getMessage)
  }

  test("property: incremental verdicts agree with one-shot LSH pairs on the union") {
    // consistency of the two MinHash consumers: a batch doc is non-novel
    // with best match (c, est) iff the one-shot pair list over
    // corpus ∪ batch contains cross pairs for it, and (c, est) is that
    // doc's max-est (min-id tie) cross pair. Random small corpora with
    // shared vocabulary so band collisions actually occur.
    import graft.operators.TextDedup
    val tokGen = Gen.listOfN(10, Gen.oneOf("a", "b", "c", "d", "e", "f"))
    for (seed <- 1 to 3) {
      val all = samples(Gen.listOfN(14, tokGen), 3)(seed - 1)
        .map(_.mkString(" ")) // 14 docs of 10 tokens
      val docs = all.zipWithIndex.map { case (t, i) => (i.toLong, "en", 10L, t) }
        .toDF("doc_id", "lang", "n_chars", "text")
      val corpus = docs.filter($"doc_id" < 10).select("doc_id", "text")
      val batch = docs.filter($"doc_id" >= 10).select("doc_id", "text")
      val idx = TextDedup.minhashBandIndex(corpus, 2, 4, 4)
      val inc = TextDedup.incrementalNearDups(idx, batch, 2, 4, 4, 0.25)
        .collect().map(r => r.getLong(0) ->
          (r.getBoolean(1), if (r.isNullAt(2)) None else Some((r.getLong(2), r.getDouble(3)))))
        .toMap
      val cross = TextDedup.minhashLshPairs(
          corpus.unionByName(batch), 2, 4, 4, 0.25)
        .filter($"doc_b" >= 10 && $"doc_a" < 10)
        .collect().map(r => (r.getLong(1), r.getLong(0), r.getDouble(2)))
        .groupBy(_._1)
      inc.foreach { case (bId, (novel, best)) =>
        cross.get(bId) match {
          case None => assert(novel && best.isEmpty, s"doc $bId should be novel")
          case Some(ps) =>
            val expect = ps.minBy(p => (-p._3, p._2))
            assert(!novel && best.contains((expect._2, expect._3)),
              s"doc $bId best $best vs expected $expect")
        }
      }
    }
  }

  test("dd_substring reports exactly the planted maximal spans") {
    val dir = tempDir("substr_prop")
    def toks(p: String, n: Int) = (1 to n).map(i => s"$p$i")
    val S12 = (1 to 12).map(i => s"sh$i") // 12-token shared run: reported
    val S9 = (1 to 9).map(i => s"nn$i")   // 9 tokens: one below MinSpan
    val tmpl = (1 to 20).map(i => s"cm$i") // template block in 18 docs: df-capped
    val docs = (Seq(
      1L -> (toks("a", 5) ++ S12 ++ toks("az", 5)),
      2L -> (toks("b", 9) ++ S12 ++ toks("bz", 3)),
      3L -> (toks("c", 4) ++ S9 ++ toks("cz", 6)),
      4L -> (toks("d", 4) ++ S9 ++ toks("dz", 6))
    ) ++ (5L to 22L).map(i => i -> (toks(s"e${i}x", 3) ++ tmpl)))
      .map { case (id, tk) => (id, "en", tk.size.toLong, tk.mkString(" ")) }
    docs.toDF("doc_id", "lang", "n_chars", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = graft.queries.TextQueries.ddSubstring(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq
    // the 12-token run is maximal (unique flanks stop extension) and lands
    // at its planted 1-based offsets; the 9-token run is below MinSpan;
    // the 18-doc template block exceeds the df cap — a template, not a
    // copy — so it emits nothing
    assert(got == Seq((1L, 2L, 6L, 10L, 12L)))
  }

  test("txt_self_span reports planted intra-document repeats") {
    val dir = tempDir("selfspan_prop")
    def toks(p: String, n: Int) = (1 to n).map(i => s"$p$i")
    val S12 = (1 to 12).map(i => s"sh$i")
    val S2 = Seq("nn1", "nn2")
    val T10 = (1 to 10).map(i => s"tt$i")
    val docs = Seq(
      // S12 twice with unique flanks: one maximal 12-token repeat at the
      // planted offsets (6, 22) — chained, not reported per-anchor
      1L -> (toks("a", 5) ++ S12 ++ toks("am", 4) ++ S12 ++ toks("az", 5)),
      // a 2-token repeat: no 3-token anchor repeats, nothing reported
      2L -> (toks("b", 3) ++ S2 ++ toks("bm", 2) ++ S2 ++ toks("bz", 3)),
      // one token 40 times: every anchor identical, 38 occurrences blow
      // the [2, 8] cap — degenerate repetition, txt_repetition's regime
      3L -> Seq.fill(40)("rr"),
      // tandem repeat T10 T10: self-overlap chains on diagonal 10 with
      // no special case — exactly one span of length 10 at (1, 11)
      4L -> (T10 ++ T10)
    ).map { case (id, tk) => (id, "en", tk.size.toLong, tk.mkString(" ")) }
    docs.toDF("doc_id", "lang", "n_chars", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = graft.queries.TextQueries.txtSelfSpan(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSeq
    assert(got == Seq((1L, 6L, 22L, 12L), (4L, 1L, 11L, 10L)))

    // the clean action drops exactly the later occurrences and rebuilds
    // the surviving text in position order
    val clean = graft.queries.TextQueries.txtSelfClean(spark, dir)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    assert(clean(1L) ==
      (26L, 12L, (toks("a", 5) ++ S12 ++ toks("am", 4) ++ toks("az", 5))
        .mkString(" ")))
    assert(clean(4L) == (10L, 10L, T10.mkString(" ")))
    // untouched docs pass through verbatim
    assert(clean(2L)._2 == 0L && clean(3L)._2 == 0L)
  }
}
