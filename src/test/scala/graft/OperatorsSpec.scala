package graft

import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Multimodal, Similarity, TextAnalysis}

class OperatorsSpec extends SparkSpec {

  test("connectedComponents labels chains and keeps components apart") {
    import spark.implicits._
    // component {1,2,3,4} as a chain, component {10,11}, pair order mixed
    val pairs = Seq((2L, 1L), (2L, 3L), (4L, 3L), (10L, 11L))
      .toDF("id_a", "id_b")
    val comp = graft.operators.Dedup.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(Seq(1L, 2L, 3L, 4L).forall(comp(_) == 1L))
    assert(comp(10L) == 10L && comp(11L) == 10L)
    val clusters = graft.operators.Dedup.dedupClusters(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(clusters == Map(1L -> 4L, 10L -> 2L))
  }

  test("connectedComponents survives a diameter-50 chain (checkpointed lineage)") {
    import spark.implicits._
    // a 51-node chain: min-label needs one round per hop, so 50+ rounds
    // — without periodic localCheckpoint the per-round plan stacks one
    // join+agg per iteration and re-analysis cost blows up with depth
    val chain = (0L until 50L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val t0 = System.nanoTime()
    val comp = graft.operators.Dedup.connectedComponents(chain, maxIter = 60)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val secs = (System.nanoTime() - t0) / 1e9
    assert(comp.size == 51 && comp.values.forall(_ == 0L))
    // budget: bounded-lineage rounds stay cheap; an unbounded plan stack
    // pushes this far beyond the limit as analysis cost compounds
    assert(secs < 120.0, s"diameter-50 clustering took ${secs}s")
  }
  import spark.implicits._

  test("connectedComponents equals a union-find model on random graphs") {
    import org.scalacheck.Gen
    // 24 random graphs (dense, sparse, self-dup edges), disjoint node
    // ranges via per-graph offsets — ONE distributed CC run over the
    // union, checked against a driver-side union-find on every graph
    val graphGen = for {
      n <- Gen.choose(2, 24)
      m <- Gen.choose(1, 40)
      e <- Gen.listOfN(m, Gen.zip(Gen.choose(0L, n - 1L), Gen.choose(0L, n - 1L)))
    } yield e.filter { case (a, b) => a != b }
    val edges: Seq[(Long, Long)] = (1 to 24).flatMap { g =>
      graphGen(Gen.Parameters.default, org.scalacheck.rng.Seed(g.toLong))
        .getOrElse(Nil)
        .map { case (a, b) => (g * 1000L + a, g * 1000L + b) }
    }
    assert(edges.nonEmpty)
    // driver-side union-find ground truth (path compression)
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val roots = parent.keys.map(x => x -> find(x)).toMap
    // min-label convention: relabel model components by their min id
    val minOf = roots.groupBy(_._2).map { case (r, xs) => r -> xs.keys.min }
    val expect = roots.map { case (x, r) => x -> minOf(r) }
    val got = Dedup.connectedComponents(edges.toDF("id_a", "id_b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expect)
  }

  test("canonicalDocsFromLabels matches canonicalDocs on shared labeling") {
    val docs = Seq((1L, 10L), (2L, 30L), (3L, 30L), (4L, 5L))
      .toDF("doc_id", "n_chars")
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val direct = rows(graft.operators.Dedup.canonicalDocs(docs, pairs))
    val labels = graft.operators.Dedup.connectedComponents(pairs)
    val viaLabels = rows(
      graft.operators.Dedup.canonicalDocsFromLabels(docs, labels))
    // cluster {1,2,3}: 2 and 3 tie at 30 chars → min id 2 wins; 4 solo
    assert(direct == Set((2L, 3L, 30L), (4L, 1L, 5L)) && viaLabels == direct)
  }

  test("RangeJoin matches the naive inequality join, without a nested loop") {
    val left = (0L until 500L).map(i => (i, i * 977L % 100000L))
      .toDF("eid", "sec")
      .select(col("eid"), timestamp_seconds(col("sec")).as("ts"))
    val right = (0L until 30L).map(i => (i, i * 3000L, i * 3000L + 7200L))
      .toDF("iid", "s", "e")
      .select(col("iid"), timestamp_seconds(col("s")).as("start_ts"),
        timestamp_seconds(col("e")).as("end_ts"))
    val binned = graft.operators.RangeJoin
      .rangeJoin(left, "ts", right, "start_ts", "end_ts", binSeconds = 3600L)
    val naive = left.join(right,
      col("ts") >= col("start_ts") && col("ts") < col("end_ts"))
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("eid", "iid").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs(binned) == pairs(naive) && pairs(binned).nonEmpty)
    val plan = binned.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    // inverted interval (end < start): must match nothing, not throw
    // (sequence() alone would fail on a descending range)
    val inverted = right.select(col("iid"),
      col("end_ts").as("start_ts"), col("start_ts").as("end_ts"))
    val none = graft.operators.RangeJoin
      .rangeJoin(left, "ts", inverted, "start_ts", "end_ts", binSeconds = 3600L)
    assert(none.count() == 0)
  }

  test("BinnedRangeJoinRule rewrites a pure range join away from BNLJ") {
    val left = (0L until 400L).map(i => (i, i * 977L % 90000L))
      .toDF("eid", "sec")
      .select(col("eid"), timestamp_seconds(col("sec")).as("ts"))
    val right = (0L until 25L).map(i => (i, i * 3000L, i * 3000L + 7200L))
      .toDF("iid", "s", "e")
      .select(col("iid"), timestamp_seconds(col("s")).as("start_ts"),
        timestamp_seconds(col("e")).as("end_ts"))
    def naive = left.join(right,
      col("ts") >= col("start_ts") && col("ts") < col("end_ts"))
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("eid", "iid").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    // off (default): nested loop join
    val offPlan = naive.queryExecution.executedPlan.toString
    assert(offPlan.contains("BroadcastNestedLoopJoin"), offPlan)
    val expected = pairs(naive)
    spark.conf.set(graft.plans.BinnedRangeJoinRule.ConfKey, "3600")
    try {
      val onDf = naive
      val onPlan = onDf.queryExecution.executedPlan.toString
      assert(!onPlan.contains("BroadcastNestedLoopJoin"), onPlan)
      assert(pairs(onDf) == expected && expected.nonEmpty)
    } finally spark.conf.set(graft.plans.BinnedRangeJoinRule.ConfKey, "0")
  }

  test("BinnedRangeJoinRule: random intervals/bins match the naive model on every edge combo") {
    import org.scalacheck.Gen
    def samples[A](g: Gen[A], n: Int): Seq[A] =
      (1 to n).flatMap(i =>
        g.apply(Gen.Parameters.default, org.scalacheck.rng.Seed(i.toLong)))
    // intervals: random spans + zero-length + inverted (hi < lo)
    val intervals = samples(for {
      lo <- Gen.chooseNum(0L, 50000L)
      len <- Gen.oneOf(Gen.const(0L), Gen.const(-5000L),
        Gen.chooseNum(1L, 20000L))
    } yield (lo, lo + len), 30).zipWithIndex
      .map { case ((lo, hi), i) => (i.toLong, lo, hi) }
    // events: random times + every interval endpoint ±1, so each
    // inclusive/exclusive boundary is actually exercised
    val events = (samples(Gen.chooseNum(0L, 60000L), 200)
      ++ intervals.flatMap { case (_, lo, hi) => Seq(lo, hi, lo - 1, hi + 1) })
      .zipWithIndex.map { case (s, i) => (i.toLong, s) }
    val left = events.toDF("eid", "sec")
      .select(col("eid"), timestamp_seconds(col("sec")).as("ts"))
    val right = intervals.toDF("iid", "s", "e")
      .select(col("iid"), timestamp_seconds(col("s")).as("lo_ts"),
        timestamp_seconds(col("e")).as("hi_ts"))
    type Op = (Long, Long) => Boolean
    // all four bound combos; two written bound-first to cover both
    // conjunct orientations the rule must normalize
    val combos: Seq[(String, org.apache.spark.sql.Column, Op, Op)] = Seq(
      (">= <", col("ts") >= col("lo_ts") && col("ts") < col("hi_ts"),
        _ >= _, _ < _),
      ("> <=", col("ts") > col("lo_ts") && col("ts") <= col("hi_ts"),
        _ > _, _ <= _),
      ("<= <= flipped", col("lo_ts") <= col("ts") && col("ts") <= col("hi_ts"),
        _ >= _, _ <= _),
      ("> < flipped", col("hi_ts") > col("ts") && col("lo_ts") < col("ts"),
        _ > _, _ < _))
    spark.conf.set(graft.plans.BinnedRangeJoinRule.ConfKey, "7")
    try {
      for ((name, cond, loOp, hiOp) <- combos;
           bin <- Seq(7L, 3600L)) {
        spark.conf.set(graft.plans.BinnedRangeJoinRule.ConfKey, bin.toString)
        val joined = left.join(right, cond)
        val plan = joined.queryExecution.executedPlan.toString
        assert(!plan.contains("BroadcastNestedLoopJoin"), s"$name bin=$bin:\n$plan")
        val got = joined.select("eid", "iid").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
        val expected = (for {
          (eid, t) <- events
          (iid, lo, hi) <- intervals
          if loOp(t, lo) && hiOp(t, hi)
        } yield (eid, iid)).toSet
        assert(got == expected && expected.nonEmpty, s"combo $name bin=$bin")
      }
    } finally spark.conf.set(graft.plans.BinnedRangeJoinRule.ConfKey, "0")
  }

  test("asofJoin matches a driver-side model on random keyed series, with and without tolerance") {
    import org.scalacheck.Gen
    import spark.implicits._
    def samples[A](g: Gen[A], n: Int): Seq[A] =
      (1 to n).flatMap(i =>
        g.apply(Gen.Parameters.default, org.scalacheck.rng.Seed(900 + i.toLong)))
    // few keys + coarse times force heavy ties and exact-equality hits
    val probes = samples(for {
      k <- Gen.chooseNum(0, 4); s <- Gen.chooseNum(0L, 120L)
    } yield (k, s), 150).zipWithIndex
      .map { case ((k, s), i) => (i.toLong, k, s) }
    // distinct (k, time): among right rows with identical key+time the
    // operator's pick is unspecified (documented) — the model needs a
    // unique latest row
    val quotes = samples(for {
      k <- Gen.chooseNum(0, 4); s <- Gen.chooseNum(0L, 120L)
      v <- Gen.chooseNum(0L, 1000L)
    } yield (k, s, v), 80)
      .groupBy(q => (q._1, q._2)).map(_._2.head).toSeq.sorted.zipWithIndex
      .map { case ((k, s, v), i) => (i.toLong, k, s, v) }
    val left = probes.toDF("pid", "k", "sec")
      .select(col("pid"), col("k"), timestamp_seconds(col("sec")).as("ts"))
    val right = quotes.toDF("qid", "k", "sec", "v")
      .select(col("qid"), col("k"), timestamp_seconds(col("sec")).as("ts"),
        col("v"))
    // model: the unique latest right row with rt <= lt on the key
    def model(tol: Option[Long]): Map[Long, Option[Long]] =
      probes.map { case (pid, k, lt) =>
        val best = quotes.filter(q => q._2 == k && q._3 <= lt)
          .sortBy(_._3).lastOption
        pid -> best.collect {
          case q if tol.forall(t => lt - q._3 <= t) => q._4
        }
      }.toMap
    for (tol <- Seq(None, Some(30L))) {
      val got = graft.operators.AsOf
        .asofJoin(left, right, "k", "ts", Seq("v"), tol)
        .select("pid", "asof_v").collect()
        .map(r => r.getLong(0) ->
          (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
      assert(got == model(tol), s"tolerance=$tol")
    }
    // nearest: smaller |gap| wins, ties to backward
    def modelNearest(tol: Option[Long]): Map[Long, Option[Long]] =
      probes.map { case (pid, k, lt) =>
        val ks = quotes.filter(_._2 == k)
        val back = ks.filter(_._3 <= lt).sortBy(_._3).lastOption
        val fwd = ks.filter(_._3 >= lt).sortBy(_._3).headOption
        val best = (back, fwd) match {
          case (Some(b), Some(f)) =>
            Some(if (lt - b._3 <= f._3 - lt) b else f)
          case (b, f) => b.orElse(f)
        }
        pid -> best.collect {
          case q if tol.forall(t => math.abs(lt - q._3) <= t) => q._4
        }
      }.toMap
    for (tol <- Seq(None, Some(30L))) {
      val got = graft.operators.AsOf
        .asofJoin(left, right, "k", "ts", Seq("v"), tol,
          direction = "nearest")
        .select("pid", "asof_v").collect()
        .map(r => r.getLong(0) ->
          (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
      assert(got == modelNearest(tol), s"nearest tolerance=$tol")
    }
  }

  test("dedup kernels are SQL-reachable and agree with the Scala API") {
    import spark.implicits._
    val docs = Seq((1L, "a b c d"), (2L, "a b c e"), (3L, "x y z w"))
      .toDF("doc_id", "text")
    docs.createOrReplaceTempView("sqlfn_docs")
    // simhash64 via SQL == Dedup.simhash
    val viaSql = spark.sql(
      "SELECT doc_id AS id, simhash64(text) AS simhash FROM sqlfn_docs")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaApi = Dedup.simhash(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaSql == viaApi)
    // token_shingles literal-n explode == shingle index
    val nSh = spark.sql(
      """SELECT doc_id, explode(token_shingles(text, 2)) AS sh
        |FROM sqlfn_docs""".stripMargin).count()
    assert(nSh == 9) // 3 docs x 3 distinct bigrams
    // minhash_sig aggregate == MinHashAgg through the Scala path
    val sqlSig = spark.sql(
      """SELECT doc_id AS id,
        |  minhash_sig(xxhash64(sh), xxhash64(1, sh), 8) AS sig
        |FROM (SELECT doc_id, explode(token_shingles(text, 2)) AS sh
        |      FROM sqlfn_docs)
        |GROUP BY doc_id""".stripMargin)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val apiSig = Dedup.minhashSignaturesFromIndex(
        Dedup.shingleIndex(docs, "doc_id", "text", 2, None, tokens = true), 8)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(sqlSig == apiSig)
    // shape args must be literals
    intercept[Exception] {
      spark.sql("SELECT token_shingles(text, doc_id) FROM sqlfn_docs").collect()
    }
  }

  test("mixtureSample matches the hash model per group and stays shuffle-free") {
    import spark.implicits._
    val df = (0L until 2000L).map(i => (i, if (i % 2 == 0) "a" else "b"))
      .toDF("id", "g")
    val kept = graft.operators.Sampling
      .mixtureSample(df, "id", "g", Map("a" -> 1.0), defaultWeight = 0.25)
    def hk(i: Long) = ((i * 2654435761L) % 4294967296L) % 10000L
    val model = (0L until 2000L)
      .filter(i => if (i % 2 == 0) true else hk(i) < 2500).toSet
    assert(kept.select("id").as[Long].collect().toSet == model)
    // pure filter projection: no exchange anywhere in the plan
    val plan = kept.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }

  test("chunkDedup keeps first occurrence; short docs form one chunk") {
    val docs = Seq(
      (1L, "a b c d e f g h i j"),   // chunks: "a..h", "i j"
      (2L, "a b c d e f g h x y"),   // first chunk duplicates doc 1's
      (3L, "i j")                    // whole short doc = one chunk, dup of doc 1 pos 1
    ).toDF("doc_id", "text")
    val kept = graft.operators.Dedup.chunkDedup(docs, chunkTokens = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(kept == Set(
      (1L, 0L, "a b c d e f g h"), (1L, 1L, "i j"), (2L, 1L, "x y")))
  }

  test("IMA ADPCM: decode(encode(codes)) replays the state machine exactly") {
    import graft.operators.Multimodal
    // every nibble value 0..15 appears; seed at a clamp-adjacent index
    val codes = Array.tabulate(37)(k => ((k * 5 + 3) % 16).toByte)
    val wav = Multimodal.encodeImaAdpcmWav(16000, (-700).toShort, 87, codes)
    val (rate, samples) = Multimodal.decodeImaAdpcmWav(wav).get
    assert(rate == 16000 && samples.length == 38)
    assert(samples(0) == -700)
    // independent scalar replay of the same bitstream
    var pred = -700; var idx = 87
    codes.zipWithIndex.foreach { case (c, k) =>
      val (p, i) = Multimodal.imaStep(pred, idx, c & 0x0F)
      pred = p; idx = i
      assert(samples(k + 1) == pred.toShort, s"sample ${k + 1}")
    }
  }

  test("IMA ADPCM closed-loop encoder tracks its own reconstruction") {
    import graft.operators.Multimodal
    // a loud ramp with direction changes — forces clamps and index walk
    val signal = Array.tabulate(300)(i =>
      (math.sin(i / 7.0) * 30000).toInt.toShort)
    val (codes, recon) = Multimodal.adpcmEncode(signal)
    val wav = Multimodal.encodeImaAdpcmWav(8000, signal(0), 0, codes)
    val (_, decoded) = Multimodal.decodeImaAdpcmWav(wav).get
    // bitstream decode == encoder's internal reconstruction, bit-exact
    assert(decoded.toSeq == recon.toSeq)
    // and the codec is actually tracking the signal (lossy but close:
    // max error a few step sizes once the index adapts)
    val errs = signal.indices.drop(50).map(i => math.abs(signal(i) - decoded(i)))
    assert(errs.max < 4000, s"worst error ${errs.max}")
  }

  test("G.711 expansion matches the classic reference vectors") {
    import graft.operators.Multimodal
    // µ-law: 0xFF and 0x7F are both zero (positive/negative silence);
    // 0x00 is the negative extreme -32124
    assert(Multimodal.ulaw2linear(0xFF) == 0)
    assert(Multimodal.ulaw2linear(0x7F) == 0)
    assert(Multimodal.ulaw2linear(0x00) == -32124)
    assert(Multimodal.ulaw2linear(0x80) == 32124)
    // A-law: 0x55 is -8, 0xD5 is +8; 0x2A the negative extreme -32256
    assert(Multimodal.alaw2linear(0x55) == -8)
    assert(Multimodal.alaw2linear(0xD5) == 8)
    assert(Multimodal.alaw2linear(0x2A) == -32256)
    assert(Multimodal.alaw2linear(0xAA) == 32256)
  }

  test("G.711 WAV round-trip both laws; format tags are mutually exclusive") {
    import graft.operators.Multimodal
    val data = Array.tabulate(11)(i => (i * 23).toByte)
    for (aLaw <- Seq(false, true)) {
      val wav = Multimodal.encodeG711Wav(8000, aLaw, data)
      val (rate, samples, law) = Multimodal.decodeG711Wav(wav).get
      assert(rate == 8000 && law == aLaw && samples.length == 11)
      samples.zipWithIndex.foreach { case (v, i) =>
        val b = data(i) & 0xFF
        val exp = if (aLaw) Multimodal.alaw2linear(b)
                  else Multimodal.ulaw2linear(b)
        assert(v == exp.toShort)
      }
      // cross-rejection: G711 payloads are not PCM or ADPCM
      assert(Multimodal.decodeWavSamples(wav).isEmpty)
      assert(Multimodal.decodeImaAdpcmWav(wav).isEmpty)
    }
    val adpcm = Multimodal.encodeImaAdpcmWav(8000, 5, 0, Array[Byte](1, 2))
    assert(Multimodal.decodeG711Wav(adpcm).isEmpty)
  }

  test("ADPCM decoder rejects plain PCM WAV and vice versa") {
    import graft.operators.Multimodal
    val pcm = Multimodal.encodePcm16Wav(8000, Array[Short](1, 2, 3))
    assert(Multimodal.decodeImaAdpcmWav(pcm).isEmpty)
    val adpcm = Multimodal.encodeImaAdpcmWav(8000, 5, 0, Array[Byte](1, 2))
    assert(Multimodal.decodeWavSamples(adpcm).isEmpty)
  }

  test("lineDedup drops corpus-frequent and blank lines, keeps order") {
    val docs = Seq(
      (1L, "keep one\nBOILER\n  \nkeep two"),
      (2L, "BOILER\nunique a"),
      (3L, "unique b\nBOILER\nBOILER"), // repeats in ONE doc: df is still 4
      (4L, "BOILER\nunique c"),
      (5L, "unique d")
    ).toDF("doc_id", "text")
    val out = graft.operators.Dedup.lineDedup(docs, maxDocs = 3)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3))))
      .toMap
    // BOILER is in 4 distinct docs > maxDocs=3 -> removed everywhere;
    // the blank line never counts; order of survivors preserved
    assert(out(1L) == ((3L, 2L, "keep one\nkeep two")))
    assert(out(2L) == ((2L, 1L, "unique a")))
    assert(out(3L) == ((3L, 1L, "unique b")))
    assert(out(4L) == ((2L, 1L, "unique c")))
    assert(out(5L) == ((1L, 1L, "unique d")))
  }

  test("Dedup.exact keeps one row per key, min id wins") {
    val df = Seq((3L, "x"), (1L, "x"), (2L, "y")).toDF("id", "k")
    val out = Dedup.exact(df, "id", Seq("k")).orderBy("k")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(out.toSeq == Seq((1L, "x"), (2L, "y")))
  }

  test("tokenShingles builds word n-grams") {
    val out = Seq("a b c d").toDF("t")
      .select(Dedup.tokenShingles(col("t"), 3)).as[Seq[String]]
      .collect().head
    assert(out == Seq("a b c", "b c d"))
  }

  test("ngramJaccardPairs finds an obvious near-dup, skips distinct docs") {
    val df = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy cat"),
      (3L, "completely different words entirely here now")).toDF("doc_id", "text")
    val pairs = Dedup.ngramJaccardPairs(df, "doc_id", "text", 3, 0.5, tokens = true)
      .collect()
    assert(pairs.length == 1)
    assert(pairs.head.getLong(0) == 1L && pairs.head.getLong(1) == 2L)
  }

  test("capDocFreq drops hot shingles, broadcasts only the hot side, keeps column order") {
    import spark.implicits._
    // "x y z" is boilerplate in all 5 docs (df=5 > cap=3); tails are unique
    val docs = (1 to 5).map(i => (i.toLong, s"x y z tail$i more$i words$i"))
      .toDF("doc_id", "text")
    val idx = Dedup.shingleIndex(docs, "doc_id", "text", 3, None, tokens = true)
    val capped = Dedup.capDocFreq(idx, Some(3))
    // column order preserved (a USING anti-join would move the key first)
    assert(capped.columns.toSeq == idx.columns.toSeq)
    // the index carries shingles as xxhash64(s): compare against the hash
    val hot = spark.range(1).select(xxhash64(lit("x y z"))).as[Long].head()
    val kept = capped.select("shingle").as[Long].collect()
    assert(!kept.contains(hot) && kept.nonEmpty)
    // the hot (df>cap) list is the broadcast side of the anti-join — the
    // ~vocabulary-sized kept set must never move to the driver
    val plan = capped.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastExchange"), plan)
    assert(plan.contains("LeftAnti"), plan)
    // end-to-end: uncapped links every pair through the boilerplate
    // shingle; the cap removes it and with it every pair
    val uncapped = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.1,
      tokens = true)
    val cappedPairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.1,
      maxDocFreq = Some(3), tokens = true)
    assert(uncapped.count() == 10 && cappedPairs.count() == 0)
    // the shingleIndex maxDocFreq parameter routes through the same cap
    val viaIndex = Dedup.shingleIndex(docs, "doc_id", "text", 3,
      Some(3), tokens = true)
    assert(viaIndex.columns.toSeq == idx.columns.toSeq)
    assert(viaIndex.count() == capped.count())
  }

  test("capDocFreq observes dropped-entry counts in the same pass (no silent caps)") {
    import spark.implicits._
    val docs = (1 to 5).map(i => (i.toLong, s"x y z tail$i more$i words$i"))
      .toDF("doc_id", "text")
    val idx = Dedup.shingleIndex(docs, "doc_id", "text", 3, None, tokens = true)
    val capped = Dedup.capDocFreq(idx, Some(3))
    capped.collect()
    val m = capped.queryExecution.observedMetrics
    val in = m.collectFirst { case (k, r) if k.startsWith("graft_cap_in_") =>
      r.getLong(0) }.get
    val out = m.collectFirst { case (k, r) if k.startsWith("graft_cap_out_") =>
      r.getLong(0) }.get
    // "x y z" is in all 5 docs over cap=3 → exactly those 5 entries drop
    assert(in - out == 5, s"in=$in out=$out")
    // the counters must not break the self-join consumer (the same
    // CollectMetrics subtree appears on both sides of the pair join)
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.1,
      maxDocFreq = Some(3), tokens = true)
    assert(pairs.count() == 0)
  }

  test("lsh bucket cap observes dropped doc slots (no silent caps)") {
    // 30 identical docs (every band bucket holds all 30 > maxBucket=10)
    // + 5 fully distinct docs whose singleton buckets survive. The
    // survivors form no pair, so the candidate output is empty and the
    // stage under the final distinct runs empty: the case where the cap
    // empties the answer and must still report (Engine.session's
    // excludedRules note).
    val docs = ((1 to 30).map(i => (i.toLong, "a b c d e f g h")) ++
      (31 to 35).map(i => (i.toLong,
        s"p$i q$i r$i s$i t$i u$i v$i w$i")))
      .toDF("doc_id", "text")
    val idx = Dedup.shingleIndex(docs, "doc_id", "text", 3, None, tokens = true)
    val cand = Dedup.minhashLshCandidatesFromIndex(idx, k = 32, bands = 4,
      maxBucket = 10)
    // collect() (not count()) so the metrics land on THIS DataFrame's
    // QueryExecution — count() spawns its own
    assert(cand.collect().isEmpty) // identical docs dropped; distinct alone
    val m = cand.queryExecution.observedMetrics
    val in = m.collectFirst { case (k, r)
      if k.startsWith("graft_bucketcap_in_") => r.getLong(0) }.get
    val out = m.collectFirst { case (k, r)
      if k.startsWith("graft_bucketcap_out_") => r.getLong(0) }.get
    // 35 docs × 4 bands = 140 banded rows; the 5 distinct docs' 20
    // singleton-bucket rows survive, the 120 degenerate ones drop
    assert(in == 140L && out == 20L, s"in=$in out=$out")
  }

  test("index consumers read the shingle index by name: reordered + extra columns give identical results") {
    // 40 unrelated docs over a 5000-word vocabulary, plus a planted
    // near-duplicate of every 4th one (last token changed: word-trigram
    // Jaccard 27/29 ≈ 0.93)
    val rnd = new scala.util.Random(7)
    val base = (0L until 40L).map(i =>
      i -> Seq.fill(30)(s"w${rnd.nextInt(5000)}").mkString(" "))
    val planted = base.filter(_._1 % 4 == 0).map { case (i, t) =>
      (i, 1000L + i, t.split(" ").init.mkString(" ") + s" edit$i") }
    val docs = (base ++ planted.map(p => p._2 -> p._3)).toDF("doc_id", "text")
    val want: Set[(Any, Any)] = planted.map(p => (p._1, p._2)).toSet
    val idx = Dedup.shingleIndex(docs, "doc_id", "text", 3, tokens = true)
    val shuffled = idx.select(col("h2"), lit(7L).as("extra"), col("shingle"),
      col("id"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq.map {
        case a: scala.collection.Seq[_] => a.toList
        case v => v
      }.toList).toSet
    def same(f: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame) = {
      val (a, b) = (rows(f(idx)), rows(f(shuffled)))
      assert(a.nonEmpty && a == b)
      a
    }
    val exact = same(Dedup.ngramJaccardPairsFromIndex(_, 0.8))
    assert(exact.map(r => (r(0), r(1))) == want)
    same(Dedup.minhashSignaturesFromIndex(_, 32))
    same(Dedup.bandSignatures(_, 32, 8))
    val cand = same(Dedup.minhashLshCandidatesFromIndex(_, 32, 8))
    assert(want.subsetOf(cand.map(r => (r(0), r(1)))), s"candidates: $cand")
    val lsh = same(Dedup.minhashLshPairsFromIndex(_, 32, 8, 0.8))
    assert(lsh == exact)
    // a consumer selecting (id, shingle) never evaluates h2, capped or not
    val pruned = Dedup.shingleIndex(docs, "doc_id", "text", 3, Some(3),
        tokens = true).select("id", "shingle")
      .queryExecution.optimizedPlan.toString
    assert(!pruned.contains("xxhash64(1,"), pruned)
  }

  test("minhashLshPairs agrees with exact jaccard on near-dups") {
    val docs = (0 until 20).map(i => (i.toLong, s"unique$i " * 10 + s"tail$i"))
      .toDF("doc_id", "text")
      .union(Seq((100L, "a b c d e f g h i j"), (101L, "a b c d e f g h i k"))
        .toDF("doc_id", "text"))
    val pairs = Dedup.minhashLshPairs(docs, "doc_id", "text",
      n = 2, k = 32, bands = 8, verifyThreshold = 0.5)
      .collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((100L, 101L)))
  }

  test("simhash: identical docs same signature, distinct docs differ") {
    val df = Seq((1L, "alpha beta gamma"), (2L, "alpha beta gamma"),
      (3L, "totally different tokens")).toDF("doc_id", "text")
    val sig = Dedup.simhash(df, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sig(1L) == sig(2L))
    assert(sig(1L) != sig(3L))
  }

  test("Similarity.cosine is 1 for identical, 0 for orthogonal") {
    val df = Seq((Array(1f, 0f), Array(1f, 0f), Array(0f, 1f))).toDF("a", "b", "c")
    val r = df.select(
      Similarity.cosine(col("a"), col("b")),
      Similarity.cosine(col("a"), col("c"))).collect().head
    assert(math.abs(r.getDouble(0) - 1.0) < 1e-12)
    assert(math.abs(r.getDouble(1)) < 1e-12)
  }

  test("bruteForceTopK ranks nearest first, excludes self") {
    val df = Seq(
      (0L, Array(1f, 0f, 0f)),
      (1L, Array(0.9f, 0.1f, 0f)),
      (2L, Array(0f, 1f, 0f)),
      (3L, Array(-1f, 0f, 0f))).toDF("vec_id", "embedding")
    val top = Similarity.bruteForceTopK(df, df.filter(col("vec_id") === 0), 2)
      .orderBy("rank").collect()
    assert(top.map(_.getLong(1)).toSeq == Seq(1L, 2L))
    assert(top.forall(_.getLong(0) == 0L))
  }

  test("lshTopK returns a subset of brute-force neighbors for its queries") {
    val emb = Engine.table(spark, sf, "embeddings")
    val q = emb.filter(col("vec_id") < 3)
    val brute = Similarity.bruteForceTopK(emb, q, 3).select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Similarity.lshTopK(emb, q, 3, bits = 4, dim = 64, tables = 4)
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // recall isn't 1.0 by construction, but candidates must be real rows
    assert(lsh.nonEmpty)
    assert(lsh.forall { case (qid, _) => qid < 3 })
  }

  test("TextAnalysis.langId picks the marker-dominant language") {
    val df = Seq(
      "the cat and the dog of the house",
      "der hund und die katze und der baum",
      "le chat et le chien et les oiseaux",
      "xyzzy plugh").toDF("text")
    val out = df.select(TextAnalysis.langId(col("text"))).as[String].collect()
    assert(out.toSeq == Seq("en", "de", "fr", "und"))
  }

  test("TextAnalysis token counts and fingerprint are deterministic") {
    val df = Seq("hello world foo").toDF("text")
    val r = df.select(
      TextAnalysis.wsTokens(col("text")),
      TextAnalysis.regexTokens(col("text")),
      TextAnalysis.fingerprint(col("text"))).collect().head
    assert(r.getLong(0) == 3L && r.getLong(1) == 3L)
    // rolling hash of "hello world foo", base 31 mod 1e9+7, computed independently
    val expected = "hello world foo".foldLeft(0L)((a, c) => (a * 31 + c.toLong) % 1000000007L)
    assert(r.getLong(2) == expected)
  }

  test("Multimodal pipeline: media table → features → frames") {
    val docs = Engine.table(spark, sf, "documents").limit(10)
    val media = Multimodal.asMediaTable(docs)
    assert(media.schema("media").dataType.typeName == "binary")
    val feats = Multimodal.extractFeatures(spark, media).collect()
    assert(feats.length == 10)
    assert(feats.forall(_.feature.length == 8))
    assert(feats.forall(f => math.abs(f.feature.sum - 1.0f) < 1e-3))
    val frames = Multimodal.sampleFrames(media, frameBytes = 32, stride = 2)
    assert(frames.count() > 0)
    // resize: target metadata applied, payload stays binary and shrinks
    // proportionally to the pixel ratio (stubbed resampler)
    val resized = Multimodal.resize(spark, media, targetW = 32, targetH = 24).collect()
    assert(resized.length == 10)
    assert(resized.forall(r => r.width == 32 && r.height == 24))
    val orig = media.select("doc_id", "media").collect()
      .map(r => r.getLong(0) -> r.getAs[Array[Byte]](1).length).toMap
    assert(resized.forall(r => r.media.length <= orig(r.doc_id) && r.media.length > 0))
  }

  test("javax.imageio codec: PNG/JPEG decode, bilinear resize, non-image fallback") {
    import spark.implicits._
    // real PNG round trip: lossless, constant image → exact dims + luma
    val png = Multimodal.encodeSolidPng(20, 10, 100)
    val d = Multimodal.decodeImage(png).get
    assert(d.width == 20 && d.height == 10 && math.round(d.meanLuma) == 100)
    // solid gray 100 lands entirely in luminance bucket 100/32 = 3
    assert(d.histogram(3) == 1.0f && d.histogram.sum == 1.0f)
    // real resize through Graphics2D re-encodes as a decodable PNG
    val r = Multimodal.decodeImage(Multimodal.resizeImageBytes(png, 7, 3).get).get
    assert(r.width == 7 && r.height == 3 && math.round(r.meanLuma) == 100)
    // JPEG decodes through the same path (lossy — tolerance on luma)
    val img = new java.awt.image.BufferedImage(16, 16,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    val gfx = img.createGraphics()
    gfx.setColor(new java.awt.Color(100, 100, 100))
    gfx.fillRect(0, 0, 16, 16)
    gfx.dispose()
    val jbos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "jpg", jbos)
    val j = Multimodal.decodeImage(jbos.toByteArray).get
    assert(j.width == 16 && j.height == 16 && math.abs(j.meanLuma - 100) < 3)
    // non-image bytes: decode declines, feature extraction falls back
    // to the deterministic byte-statistics stub
    assert(Multimodal.decodeImage("not an image".getBytes("UTF-8")).isEmpty)
    val media = Seq((1L, png, "image/png", 20, 10),
      (2L, "plain text payload".getBytes("UTF-8"),
        "application/octet-stream", 0, 0))
      .toDF("doc_id", "media", "mime", "width", "height")
    val feats = Multimodal.extractFeatures(spark, media).collect()
      .map(f => f.doc_id -> f.feature).toMap
    assert(feats(1L)(3) == 1.0f)          // real luminance histogram
    assert(feats(2L).sum > 0.99f)         // stub byte histogram
    // mixed resize: image row is re-encoded PNG at target dims, text
    // row passes through the stub with original mime
    val resized = Multimodal.resize(spark, media, 5, 4).collect()
      .map(x => x.doc_id -> x).toMap
    assert(resized(1L).mime == "image/png"
      && Multimodal.decodeImage(resized(1L).media).get.width == 5)
    assert(resized(2L).mime == "application/octet-stream")
  }

  test("ivfTopK finds mostly the same neighbors as brute force") {
    val emb = Engine.table(spark, sf, "embeddings")
    val q = emb.filter(col("vec_id") < 5)
    val brute = Similarity.bruteForceTopK(emb, q, 3)
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Similarity.ivfTopK(emb, q, 3, nlist = 8, nprobe = 4)
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ivf.size == 15) // 5 queries x k=3
    val recall = (brute & ivf).size.toDouble / brute.size
    assert(recall >= 0.4, s"IVF recall too low: $recall")
  }

  test("ivfTopK at production nlist: constant-size plan, no literal blowup") {
    val emb = Engine.table(spark, sf, "embeddings")
    val q = emb.filter(col("vec_id") < 3)
    // nlist larger than the corpus sample is clamped by the seed limit;
    // 256 cells at sf0.001 still exercises the wide-centroid path that
    // used to embed nlist×dim literal nodes per expression
    val df = Similarity.ivfTopK(emb, q, 3, nlist = 256, nprobe = 64)
    val analyzed = df.queryExecution.analyzed.toString
    // the centroid matrix must ride as ONE reference object: the plan
    // text stays small and mentions vec_top_cells, not thousands of
    // per-component literals
    assert(analyzed.contains("vectopcells") || analyzed.contains("VecTopCells"),
      s"expected VecTopCells in plan")
    assert(analyzed.length < 100000, s"plan text blew up: ${analyzed.length} chars")
    val rows = df.collect()
    assert(rows.length == 9) // 3 queries x k=3
    // with nprobe=nlist/4 over a small corpus recall should be high
    val brute = Similarity.bruteForceTopK(emb, q, 3)
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = rows.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert((brute & got).size.toDouble / brute.size >= 0.4)
  }

  test("ivfTopK degrades on NaN embedding components instead of crashing") {
    import org.apache.spark.sql.GraftSqlBridge
    val df = Seq(
      (1L, Array(Float.NaN, 1.0f)),
      (2L, Array(0.5f, 0.5f)),
      (3L, Array(0.9f, 0.1f))).toDF("vec_id", "embedding")
    val centroids = Array(Array(1.0, 0.0), Array(0.0, 1.0))
    val cells = df.select(GraftSqlBridge.column(
      graft.plans.VecTopCells(
        GraftSqlBridge.expression(col("embedding")), centroids, 2)).as("c"))
      .collect().map(_.getSeq[Int](0).toList)
    // NaN scores pick deterministic fallback cells; no task crash
    assert(cells.length == 3)
    assert(cells.forall(c => c.toSet.size == 2 && c.forall(i => i == 0 || i == 1)))
  }

  test("TokenShingles codegen kernel equals the HOF formulation bit-for-bit") {
    val docs = Engine.table(spark, sf, "documents")
    for (n <- Seq(2, 3)) {
      val both = docs.select(
        Dedup.tokenShingles(col("text"), n).as("fast"),
        Dedup.tokenShinglesHof(col("text"), n).as("hof"))
        .collect()
      both.foreach { r =>
        assert(r.getSeq[String](0) == r.getSeq[String](1))
      }
    }
    // edge shapes: empty, single token, fewer tokens than n, repeats,
    // leading tab (trim only strips spaces — a leading empty token
    // survives, like Spark's split)
    val edge = Seq("", "one", "a b", "x x x x", "\tlead tab text", "  sp  ")
      .toDF("text").select(
        Dedup.tokenShingles(col("text"), 3).as("fast"),
        Dedup.tokenShinglesHof(col("text"), 3).as("hof"))
      .collect()
    edge.foreach(r => assert(r.getSeq[String](0) == r.getSeq[String](1), r))
    // stays inside whole-stage codegen
    val plan = docs.select(Dedup.tokenShingles(col("text"), 3))
      .queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project"), plan)
  }

  test("SimHash64 kernel equals the explode+agg formulation bit-for-bit") {
    val docs = Engine.table(spark, sf, "documents")
    for (portable <- Seq(true, false)) {
      val fast = Dedup.simhash(docs, "doc_id", "text", portable)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val slow = Dedup.simhashViaAgg(docs, "doc_id", "text", portable)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(fast.nonEmpty && fast == slow, s"portable=$portable")
    }
    // zero shuffles: the plan is a single codegen'd projection
    val plan = Dedup.simhash(docs, "doc_id", "text", portable = true)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
    assert(plan.contains("*(1) Project"), plan)
  }

  test("MinHashAgg equals the k-column min formulation bit-for-bit") {
    val docs = Engine.table(spark, sf, "documents").limit(200)
    val k = 16
    // new: one TypedImperativeAggregate buffer → array<bigint>, over the
    // typed index (shingle = xxhash64(s), h2 = xxhash64(1, s))
    val viaAgg = Dedup.minhashSignaturesFromIndex(
        Dedup.shingleIndex(docs, "doc_id", "text", n = 3, tokens = true), k)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toList).toMap
    // old: k separate min(h1 + i*h2) aggregate columns, hashing the
    // shingle strings directly
    val idx = docs
      .select(col("doc_id").as("id"),
        explode(Dedup.tokenShingles(col("text"), 3)).as("s"))
      .withColumn("h1", xxhash64(col("s")))
      .withColumn("h2", xxhash64(lit(1), col("s")))
    val mins = (0 until k).map(i =>
      min(col("h1") + lit(i.toLong) * col("h2")).as(s"h$i"))
    val viaCols = idx.groupBy("id").agg(mins.head, mins.tail: _*)
      .collect().map(r => r.getLong(0) -> (1 to k).map(r.getLong).toList).toMap
    assert(viaAgg.keySet == viaCols.keySet && viaAgg.nonEmpty)
    viaAgg.foreach { case (id, sig) => assert(sig == viaCols(id), s"doc $id") }
  }

  test("Decontaminate: bloom-prefiltered scores equal the exact join, plan shows might_contain") {
    val docs = Engine.table(spark, sf, "documents")
    val corpus = docs.filter(col("source") =!= "src0")
    val bench = docs.filter(col("source") === "src0")
    def key(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val bloomed =
      graft.operators.Decontaminate.scores(corpus, bench, "doc_id", "text")
    val exact =
      graft.operators.Decontaminate.scores(corpus, bench, "doc_id", "text",
        bloomPrefilter = false)
    assert(key(bloomed) == key(exact))
    assert(key(bloomed).nonEmpty)
    // one row per corpus doc, none for benchmark docs
    assert(bloomed.count() == corpus.count())
    // the scale path really is bloom-prefiltered before the exact join
    val plan = bloomed.queryExecution.executedPlan.toString
    assert(plan.contains("might_contain"), plan)
    // shared-vocabulary corpus: contamination must actually fire
    assert(bloomed.filter(col("n_contam") > 0).count() > 0)
  }

  test("Decontaminate.fuzzyPairs: bloom equals exact, catches the planted near-dup") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "completely unrelated text about distributed query engines"),
      (3L, "another clean document with no benchmark overlap at all"))
      .toDF("doc_id", "text")
    // doc 101 is a light edit of corpus doc 1 (one word changed): exact
    // shingle containment misses most spans but Jaccard stays high
    val bench = Seq(
      (101L, "the quick brown fox jumps over the lazy cat today"),
      (102L, "an eval question about arithmetic nobody crawled"))
      .toDF("doc_id", "text")
    def pairs(bloom: Boolean) =
      graft.operators.Decontaminate.fuzzyPairs(corpus, bench,
        "doc_id", "text", n = 3, threshold = 0.4, bloomPrefilter = bloom)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val withBloom = pairs(true)
    assert(withBloom == pairs(false))
    assert(withBloom == Set((1L, 101L)))
  }

  test("bigramLogProb: MLE transition model on a hand-checked corpus") {
    import spark.implicits._
    // bigrams: (a b)x2 from docs 1,2; (b a)x1; (b c)x1; prefix counts:
    // a->3 (a b twice, a b in doc2? no: doc1 "a b a", doc2 "a b c")
    val docs = Seq((1L, "a b a"), (2L, "a b c"), (3L, "z")).toDF("doc_id", "text")
    val out = TextAnalysis.bigramLogProb(docs)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getDouble(2)))).toMap
    // corpus bigrams: doc1 -> (a,b),(b,a); doc2 -> (a,b),(b,c)
    // c2: (a,b)=2, (b,a)=1, (b,c)=1 ; c1: a->2, b->2
    // doc1: -[ln(2/2)+ln(1/2)]/2 = ln2/2 ; doc2 identical
    val exp = BigDecimal(math.log(2.0) / 2).setScale(6,
      BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out.keySet == Set(1L, 2L)) // "z" has no bigrams -> dropped
    assert(out(1L) == ((2L, exp)) && out(2L) == ((2L, exp)))
  }

  test("bpeEncode: token counts under learned merges, hand-checked") {
    import spark.implicits._
    val docs = Seq((1L, "abc ab abc"), (2L, "ab")).toDF("doc_id", "text")
    // round 1 learns (a b) (freq 3 beats (b c)'s 2): "abc" -> [ab, c],
    // "ab" -> [ab]
    val out = TextAnalysis.bpeEncode(docs, rounds = 1)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(out == Map(1L -> ((3L, 5L)), 2L -> ((1L, 1L))))
  }

  test("bpeMerges batched: disjoint pairs merge in one round, shared-symbol pairs blocked") {
    import spark.implicits._
    // word freqs: "ab"x3, "cd"x2 -> pairs (a b)=3, (c d)=2: symbol-
    // disjoint, BOTH merge in round 1 with global seq 1, 2
    val disjoint = Seq((1L, "ab ab ab cd cd")).toDF("doc_id", "text")
    val out1 = TextAnalysis.bpeMerges(disjoint, rounds = 1, window = 4)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(out1.toSeq == Seq((1L, "ab", 3L), (2L, "cd", 2L)))
    // "ab"x3, "bc"x2, "cd"x2 -> candidates ranked (a b)=3, (b c)=2,
    // (c d)=2. (b c) shares b with the better-ranked (a b) -> blocked;
    // (c d) shares c with the better-ranked CANDIDATE (b c) -> blocked
    // too (the rule checks all better-ranked candidates, kept or not,
    // so it is a per-row NOT EXISTS both engines express identically)
    val blocked = Seq((1L, "ab ab ab bc bc cd cd")).toDF("doc_id", "text")
    val out2 = TextAnalysis.bpeMerges(blocked, rounds = 1, window = 4)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(out2.toSeq == Seq((1L, "ab", 3L)))
    // window=1 degenerates to classic serial BPE: same corpus, 2
    // rounds -> (a b) then (b c) ("bc" freq unchanged; "c d" now ties
    // but 'b  c' sorts first)
    val serial = TextAnalysis.bpeMerges(blocked, rounds = 2, window = 1)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(serial.toSeq == Seq((1L, "ab"), (2L, "bc")))
  }

  test("simhashPairs is COMPLETE for any maxDist: every exact pair within distance is found") {
    import spark.implicits._
    import graft.operators.Dedup
    // 40 near-variants: many pairs land at Hamming distances 1..10,
    // with differing bits spread across blocks — the shape that lost
    // recall when banding was fixed at 4 blocks regardless of maxDist
    val docs = (1 to 40).map(i =>
      (i.toLong, s"the quick brown fox jumps over the lazy dog number $i " +
        s"extra token${i % 7} filler${i % 3}")).toDF("doc_id", "text")
    val maxDist = 8
    val sig = Dedup.simhash(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val exact = (for {
      (ia, sa) <- sig; (ib, sb) <- sig if ia < ib
      if java.lang.Long.bitCount(sa ^ sb) <= maxDist
    } yield (ia, ib)).toSet
    assert(exact.nonEmpty, "fixture produced no close pairs; adjust text")
    val found = Dedup.simhashPairs(docs, "doc_id", "text", maxDist = maxDist)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(found == exact,
      s"missing: ${(exact -- found).take(5)}; extra: ${(found -- exact).take(5)}")
  }

  test("sampleFrames emits only FULL frames: sub-frame media yields zero rows") {
    import spark.implicits._
    import graft.operators.Multimodal
    val media = Seq(
      (1L, Array.fill[Byte](10)(1)),   // < 1 frame -> no rows
      (2L, Array.fill[Byte](64)(2)),   // exactly 1 frame
      (3L, Array.fill[Byte](100)(3)),  // 1 full frame + remainder
      (4L, Array.empty[Byte]))         // empty -> no rows
      .toDF("doc_id", "media")
    val frames = Multimodal.sampleFrames(media, frameBytes = 64, stride = 1)
      .collect().map(r => (r.getLong(0), r.getInt(1),
        r.getAs[Array[Byte]](2).length))
    assert(frames.toSet == Set((2L, 0, 64), (3L, 0, 64)))
  }

  test("KMV sketch: exact below k, within 3 sigma above k, intersection tracks real overlap") {
    import spark.implicits._
    import graft.operators.Sketches
    // 40 distinct keys < k=64: the sketch IS the set, estimate exact
    val small = (1L to 40L).map(i => (i, "g")).toDF("user_id", "event_type")
    val es = Sketches.kmvEstimate(small, "user_id", "event_type", k = 64)
      .collect().head
    assert(es.getLong(1) == 40L && es.getDouble(3) == 40.0)
    // 20k distinct keys: (k-1)M/h_k within 3·n/sqrt(k-2) of truth
    val big = (1L to 20000L).map(i => (i, "g")).toDF("user_id", "event_type")
    val eb = Sketches.kmvEstimate(big, "user_id", "event_type", k = 64)
      .collect().head
    val err = math.abs(eb.getDouble(3) - 20000.0)
    assert(err < 3 * 20000.0 / math.sqrt(62), s"est=${eb.getDouble(3)}")
    // intersection: A = 1..6000, B = 4001..10000 -> |A∩B|=2000, |A∪B|=10000
    val aSet = (1L to 6000L).toDF("user_id")
    val bSet = (4001L to 10000L).toDF("user_id")
    val ix = Sketches.kmvIntersect(aSet, bSet, "user_id", k = 64)
      .collect().head
    val interEst = ix.getDouble(5)
    assert(math.abs(interEst - 2000.0) < 1500.0, s"inter=$interEst") // J±3σ band
    // determinism: identical sketch values on a second run
    val again = Sketches.kmvIntersect(aSet, bSet, "user_id", k = 64)
      .collect().head
    assert(again == ix)
  }

  test("winnowing: shared >= w+k-1 token runs share a fingerprint; disjoint docs share none") {
    import spark.implicits._
    import graft.operators.Dedup
    val common = "alpha beta gamma delta epsilon zeta eta theta" // 8 tokens >= w+k-1 = 6
    val docs = Seq(
      (1L, s"one two $common three four"),
      (2L, s"$common nine ten eleven twelve"),
      (3L, "totally different words with no overlap at all here"))
      .toDF("doc_id", "text")
    val fps = Dedup.winnowFingerprints(docs, "doc_id", "text", k = 3, w = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val byDoc = fps.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    // the winnowing guarantee: docs 1 and 2 share the 8-token run
    assert((byDoc(1L) & byDoc(2L)).nonEmpty)
    assert((byDoc(1L) & byDoc(3L)).isEmpty)
    assert((byDoc(2L) & byDoc(3L)).isEmpty)
    // density: for n grams there are n-w+1 windows; selections are a
    // subset, and every full-window doc selects at least one
    docs.collect().foreach { r =>
      val n = r.getString(1).trim.split("\\s+").length - 2 // k=3 grams
      assert(byDoc(r.getLong(0)).size <= n - 4 + 1)
      assert(byDoc(r.getLong(0)).nonEmpty)
    }
    // determinism: second run yields the identical fingerprint sets
    val again = Dedup.winnowFingerprints(docs, "doc_id", "text", k = 3, w = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(again == fps.toSet)
  }

  test("winnowPairs finds the cloned pair and respects minCommon") {
    import spark.implicits._
    import graft.operators.Dedup
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val docs = Seq(
      (1L, base), (2L, base + " extra trailing words"),
      (3L, "entirely unrelated content " + (1 to 30).map(i => s"z$i").mkString(" ")))
      .toDF("doc_id", "text")
    val pairs = Dedup.winnowPairs(docs, "doc_id", "text",
      k = 3, w = 4, minCommon = 3, maxDocFreq = 50)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("Web URL hygiene: registered domain, tracking strip, canonical form") {
    import graft.operators.Web
    val urls = Seq(
      // SLD heuristic: co.uk keeps three labels
      "https://news.bbc.co.uk/a?x=1",
      // plain com: last two labels; HOST lowercased; port kept out of
      // the domain; fragment dropped; utm_/ref stripped; params sorted
      "HTTPS://Sub.Example.COM:8080/p/q?utm_source=a&b=2&ref=r&a=1#frag",
      // bare host: empty path canonicalizes to "/"; all-tracking query
      // drops the "?" entirely
      "https://example.com?utm_medium=email",
      // two-label host is its own registered domain
      "https://short.io/x")
    val df = urls.toDF("url")
    val got = df.select(col("url"), Web.registeredDomain(col("url")).as("d"),
        Web.canonicalUrl(col("url")).as("c"))
      .collect().map(r => (r.getString(1), r.getString(2))).toSeq
    assert(got == Seq(
      ("bbc.co.uk", "https://news.bbc.co.uk/a?x=1"),
      ("example.com", "https://sub.example.com/p/q?a=1&b=2"),
      ("example.com", "https://example.com/"),
      ("short.io", "https://short.io/x")), got.mkString("\n"))
  }

  test("id3v2TextFrames: v2.3 BE32/Latin-1 and v2.4 syncsafe/UTF-8, audio untouched") {
    import graft.operators.Multimodal
    val frames = Seq("TIT2" -> "Café Müller", "TPE1" -> "artist",
      "TALB" -> "album")
    Seq(3, 4).foreach { major =>
      val bytes = Multimodal.encodeId3v2(major, frames,
        Multimodal.encodeMp3(128, 44100, 2))
      val (ver, got) = Multimodal.id3v2TextFrames(bytes).get
      assert(ver == major && got == frames, s"v$major: $got")
      // the mp3 frame scan behind the tag still sees both frames
      assert(Multimodal.mp3Scan(bytes).get.nFrames == 2)
    }
    // non-tagged payloads and truncated tags refuse cleanly
    assert(Multimodal.id3v2TextFrames("no tag here".getBytes).isEmpty)
    val t = Multimodal.encodeId3v2(4, frames, Array.emptyByteArray)
    assert(Multimodal.id3v2TextFrames(t.take(9)).isEmpty)
    // a tag whose declared size exceeds the file stops at the bytes
    // that exist instead of throwing
    val (_, partial) = Multimodal.id3v2TextFrames(t.dropRight(6)).get
    assert(partial.length == 2, partial.mkString(","))
  }

  test("mp4CodecFourcc: four-level stsd descent with free siblings at every level") {
    import graft.operators.Multimodal
    Seq("avc1", "hvc1", "mp4v", "mp4a").foreach { codec =>
      val bytes = Multimodal.encodeMp4Tree(1000, 5000, 640, 360, codec)
      assert(Multimodal.mp4CodecFourcc(bytes).contains(codec))
      // the flat header scan still reads the same tree
      val m = Multimodal.mp4Header(bytes).get
      assert(m.timescale == 1000L && m.duration == 5000L &&
        m.width == 640 && m.height == 360)
    }
    // a tree without the sample-table chain has no codec
    val flat = Multimodal.encodeMp4(1000, 5000, 640, 360)
    assert(Multimodal.mp4CodecFourcc(flat).isEmpty)
    assert(Multimodal.mp4CodecFourcc("junk".getBytes).isEmpty)
  }

  test("resampleLinear: exact up/down paths, truncating rounding on negatives") {
    import graft.operators.Multimodal
    // ×2 upsample: midpoints exact, output stops before the last
    // source position (no extrapolation)
    assert(Multimodal.resampleLinear(Array[Short](0, 10, 20), 8000, 16000)
      .toSeq == Seq(0, 5, 10, 15))
    // ×2 decimation: every other sample, last never emitted
    assert(Multimodal.resampleLinear(Array[Short](0, 10, 20, 30, 40),
      32000, 16000).toSeq == Seq(0, 20))
    // fractional 1.5× ratio: position 1.5 interpolates
    assert(Multimodal.resampleLinear(Array[Short](0, 30, 60, 90),
      24000, 16000).toSeq == Seq(0, 45))
    // negative midpoint -3.5 truncates to -3, matching DuckDB's `//`
    // (which truncates toward zero: -7//2 = -3, measured); a flooring
    // floorDiv here would give -4 and break the oracle hash
    assert(Multimodal.resampleLinear(Array[Short](-3, -4), 8000, 16000)
      .toSeq == Seq(-3, -3))
    // degenerate inputs pass through
    assert(Multimodal.resampleLinear(Array[Short](7), 8000, 16000)
      .toSeq == Seq(7))
    assert(Multimodal.resampleLinear(Array.empty[Short], 8000, 16000).isEmpty)
  }

  test("mp4SampleTables: stts/stsz/stsc/stco round-trip with remainder chunk") {
    import graft.operators.Multimodal
    // n=7, spc=3 -> chunks of 3,3,1; two stts runs 3@1000 + 4@2000
    val sizes = Array(10, 20, 30, 40, 50, 60, 70)
    val bytes = Multimodal.encodeMp4Samples(90000, 1000, 2000, sizes, 3, 500)
    val t = Multimodal.mp4SampleTables(bytes).get
    assert(t.sampleCount == 7 && t.chunkOffsets.length == 3)
    assert(t.durationTicks == 3 * 1000 + 4 * 2000)
    assert(t.totalBytes == sizes.sum && t.maxSize == 70)
    // offsets: chunk starts 500, 560 (10+20+30), 710 (+40+50+60)
    assert(t.chunkOffsets.toSeq == Seq(500L, 560L, 710L))
    // sample 4 (0-based) is the 2nd sample of chunk 2: 560 + 40
    assert(t.chunkOf(4) == ((2L, 3L)))
    assert(t.sampleOffset(4) == 600L)
    // sample 6 is alone in the remainder chunk
    assert(t.chunkOf(6) == ((3L, 6L)) && t.sampleOffset(6) == 710L)
    // timestamps cross the stts run boundary: ts(2)=2000, ts(3)=3000,
    // ts(5)=3000+2*2000
    assert(t.sampleTimestamp(2) == 2000L && t.sampleTimestamp(3) == 3000L &&
      t.sampleTimestamp(5) == 7000L)
    // spec-walk vs contiguous prefix sum agree on every sample
    (0 until 7).foreach { k =>
      assert(t.sampleOffset(k) == 500L + sizes.take(k).sum,
        s"offset mismatch at k=$k")
    }
    // truncated stbl: chop the last stco entry -> None, not a throw
    assert(Multimodal.mp4SampleTables(bytes.dropRight(4)).isEmpty)
    assert(Multimodal.mp4SampleTables("junk".getBytes).isEmpty)
  }

  test("mp4SampleTables: non-contiguous chunks prove the stco walk is real") {
    import graft.operators.Multimodal
    // hand-built tables a muxer interleaving two tracks would produce:
    // chunk 2 does NOT start where chunk 1's samples end
    val t = Multimodal.Mp4SampleTables(
      sttsRuns = Seq((4L, 100L)),
      sizes = Array(10L, 20L, 30L, 40L),
      stscRuns = Seq((1L, 2L)),
      chunkOffsets = Array(1000L, 9000L))
    assert(t.sampleOffset(0) == 1000L && t.sampleOffset(1) == 1010L)
    // samples 2,3 live in the second chunk at the far offset
    assert(t.sampleOffset(2) == 9000L && t.sampleOffset(3) == 9030L)
  }

  test("mp4Header: box walk finds brand/timescale/duration/dims, skips free, rejects non-BMFF") {
    import graft.operators.Multimodal
    val bytes = Multimodal.encodeMp4(timescale = 90000, duration = 450000,
      width = 640, height = 360)
    val m = Multimodal.mp4Header(bytes).get
    assert(m.brand == "isom" && m.timescale == 90000L &&
      m.duration == 450000L && m.width == 640 && m.height == 360)
    assert(m.nTopBoxes == 3) // ftyp + free + moov: free was walked over
    assert(Multimodal.mp4Header("not an mp4 container".getBytes).isEmpty)
    assert(Multimodal.mp4Header(bytes.take(20)).isEmpty) // truncated moov
    // malformed size (runs past EOF) stops the walk instead of throwing
    val bad = bytes.clone(); bad(0) = 0x7F.toByte
    assert(Multimodal.mp4Header(bad).isEmpty)
    // WALKABLE but truncated payloads must yield None, not AIOOBE:
    // ftyp(16) + moov(16) containing an empty-payload mvhd(8)
    def box(t: String, payload: Array[Byte]): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(8 + payload.length)
      bb.putInt(8 + payload.length).put(t.getBytes("US-ASCII")).put(payload)
      bb.array()
    }
    val truncatedMvhd = box("ftyp", "isomxxxx".getBytes) ++
      box("moov", box("mvhd", Array.empty[Byte]))
    assert(Multimodal.mp4Header(truncatedMvhd).isEmpty)
    // and an empty ftyp payload (no room for the brand fourcc)
    val emptyFtyp = box("ftyp", Array.empty[Byte]) ++
      box("moov", Array.empty[Byte])
    assert(Multimodal.mp4Header(emptyFtyp).isEmpty)
    // short tkhd: mvhd valid, tkhd payload too small for dims
    val shortTkhd = box("ftyp", "isomxxxx".getBytes) ++
      box("moov", box("mvhd", new Array[Byte](100)) ++
        box("trak", box("tkhd", new Array[Byte](20))))
    val st = Multimodal.mp4Header(shortTkhd)
    assert(st.isDefined && st.get.width == 0 && st.get.height == 0)
  }

  test("mp3Scan: counts frames behind an ID3v2 tag; stops at desync; rejects garbage") {
    import graft.operators.Multimodal
    val bytes = Multimodal.encodeMp3(bitrateKbps = 192, sampleRate = 44100,
      nFrames = 12, id3Bytes = 37)
    val m = Multimodal.mp3Scan(bytes).get
    assert(m.nFrames == 12 && m.bitrateKbps == 192 && m.sampleRate == 44100)
    assert(m.totalSamples == 12L * 1152)
    // trailing garbage after the last full frame is ignored
    val withJunk = bytes ++ Array[Byte](1, 2, 3)
    assert(Multimodal.mp3Scan(withJunk).get.nFrames == 12)
    // a truncated final frame doesn't count
    val truncated = Multimodal.mp3Scan(bytes.dropRight(1)).get
    assert(truncated.nFrames == 11)
    assert(Multimodal.mp3Scan("definitely not audio".getBytes).isEmpty)
  }

  test("Decontaminate: empty benchmark yields all-zero contamination") {
    val docs = Engine.table(spark, sf, "documents")
    val out = graft.operators.Decontaminate.scores(
      docs, docs.limit(0), "doc_id", "text")
    assert(out.filter(col("n_contam") =!= 0).count() == 0)
    assert(out.count() == docs.count())
  }

  test("tfidfTopK: k rows per doc, rare terms outrank ubiquitous ones") {
    val docs = Seq(
      (1L, "alpha beta beta common common"),
      (2L, "gamma gamma common common common"),
      (3L, "delta common common common common"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.tfidfTopK(docs, "doc_id", "text", k = 2)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(4)))
    // every doc contributes exactly k rows (it has >= k distinct terms)
    assert(out.groupBy(_._1).forall(_._2.length == 2))
    // 'common' appears in every doc → idf ln(4/4)=0 → never ranks above
    // a doc-specific term
    val top1 = out.filter(_._3 == 1L).map(t => t._1 -> t._2).toMap
    assert(top1 == Map(1L -> "beta", 2L -> "gamma", 3L -> "delta"))
    // empty doc produces no rows
    val withEmpty = TextAnalysis.tfidfTopK(
      docs.union(Seq((9L, "")).toDF("doc_id", "text")), "doc_id", "text", 2)
    assert(withEmpty.filter(col("doc_id") === 9L).count() == 0)
  }

  test("zOrderBy localizes BOTH dimensions within each output partition") {
    import spark.implicits._
    import graft.operators.Layout
    val grid = (for (a <- 0 until 64; b <- 0 until 64) yield (a.toLong, b.toLong))
      .toDF("a", "b")
    val parts = Layout.zOrderBy(grid, "a", "b", bits = 6, numFiles = 16)
      .withColumn("pid", spark_partition_id())
      .groupBy("pid")
      .agg((max("a") - min("a")).as("aspread"),
        (max("b") - min("b")).as("bspread"))
      .collect()
    assert(parts.length == 16)
    val aAvg = parts.map(_.getLong(1)).sum.toDouble / parts.length
    val bAvg = parts.map(_.getLong(2)).sum.toDouble / parts.length
    // a single-column sort would localize one dimension and leave the
    // other at full spread (~63); z-order keeps both well under half
    assert(aAvg < 32, s"aAvg=$aAvg")
    assert(bAvg < 32, s"bAvg=$bAvg")
    // and the z value itself is the Morton interleave
    val z = grid.select(Layout.zValue(col("a"), col("b"), 6).as("z"),
      col("a"), col("b")).collect()
    z.foreach { r =>
      val (zv, a, b) = (r.getLong(0), r.getLong(1), r.getLong(2))
      val expect = (0 until 6).map(i =>
        (((a >> i) & 1L) << (2 * i)) | (((b >> i) & 1L) << (2 * i + 1))).sum
      assert(zv == expect, s"a=$a b=$b")
    }
  }

  test("TopKPerKey equals the window-function idiom on every key") {
    val li = Engine.table(spark, sf, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"),
        round(col("l_quantity"), 2).as("qty"))
    val custom = graft.plans.TopKPerKey(li, Seq("l_orderkey"),
        Seq(("qty", true), ("l_linenumber", true)), 2)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("l_orderkey").orderBy(col("qty"), col("l_linenumber"))
    val reference = li.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 2)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(custom == reference)
    assert(custom.nonEmpty)
  }

  test("aHash64 through the real PNG codec: class-invariant, class-distinct") {
    import graft.operators.Multimodal
    // fixture hash is a pure function of seed % 8
    val h = (0L until 16L).map(id =>
      Multimodal.aHash64(Multimodal.encodeStripePng(id)).get)
    (0 until 8).foreach(i => assert(h(i) == h(i + 8)))
    assert(h.take(8).distinct.size == 8)
    // solid image: every block equals the mean -> all 64 bits set
    assert(Multimodal.aHash64(Multimodal.encodeSolidPng(16, 16, 77)).get == -1L)
    // non-image payload declines instead of throwing
    assert(Multimodal.aHash64("not a png".getBytes).isEmpty)
  }

  test("temperatureSample keeps the smallest source whole and flattens shares") {
    import graft.operators.Sampling
    val docs = Engine.table(spark, sf, "documents")
    def shares(df: org.apache.spark.sql.DataFrame): Map[String, Long] =
      df.groupBy("source").count().collect()
        .map(r => (r.getString(0), r.getLong(1))).toMap
    val before = shares(docs)
    val after = shares(Sampling.temperatureSample(docs, "doc_id", "source", 0.5))
    val minSrc = before.minBy(_._2)._1
    // rate for the smallest source is exactly 1.0 → passes whole
    assert(after(minSrc) == before(minSrc))
    // α<1 flattens: the max/min imbalance must not grow (small slack
    // for hash-thinning noise at this scale)
    val rb = before.values.max.toDouble / before.values.min
    val ra = after.values.max.toDouble / after.values.min
    assert(ra <= rb * 1.05, s"before=$before after=$after")
  }

  test("VecLshBuckets equals the per-plane lshBucket expression forest") {
    import spark.implicits._
    val emb = Engine.table(spark, sf, "embeddings").limit(64)
    val (dim, bits, tables) = (64, 5, 7)
    val forest = emb.select(col("vec_id"),
      array((0 until tables).map(t =>
        Similarity.lshBucket(col("embedding"),
          Similarity.hyperplanes(dim, bits, seed = 42L + t))): _*).as("b"))
    val fused = emb.select(col("vec_id"),
      Similarity.lshBucketsAll(col("embedding"), dim, bits, tables).as("b"))
    def m(df: org.apache.spark.sql.DataFrame) = df.as[(Long, Seq[Long])]
      .collect().toMap
    assert(m(fused) == m(forest))
    // and the interpreted path (nullSafeEval) agrees with codegen,
    // value for value
    val planes =
      Array.tabulate(tables)(t => Similarity.hyperplanes(dim, bits, 42L + t))
    val ev = graft.plans.VecLshBuckets(
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        Array.emptyDoubleArray,
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.DoubleType)), planes)
    val codegenOut = m(fused)
    emb.select(col("vec_id"), col("embedding")).collect().foreach { r =>
      val vec = r.getSeq[Float](1).toArray.map(_.toDouble)
      val interp = ev
        .nullSafeEval(new org.apache.spark.sql.catalyst.util.GenericArrayData(vec))
        .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
        .toLongArray.toSeq
      assert(interp == codegenOut(r.getLong(0)), s"vec_id=${r.getLong(0)}")
    }
  }

  test("cosinePairsLsh candidates are a subset of exact pairs") {
    val emb = Engine.table(spark, sf, "embeddings")
    val exact = Similarity.cosinePairs(emb, 0.4)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Similarity.cosinePairsLsh(emb, 0.4, bits = 4, tables = 6)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(exact))
    assert(lsh.nonEmpty)
  }

  test("kmeans separates well-separated blobs and is rerun-deterministic") {
    import graft.operators.Clustering
    // two tight blobs far apart; seeds (ids 0 and 1) start in blob A, so
    // convergence to the true split exercises the centroid updates
    val pts = (0L until 6L).map(i => (i, Array(0.01f * i, 0f))) ++
      (6L until 12L).map(i => (i, Array(5f + 0.01f * i, 1f)))
    val df = pts.toDF("vec_id", "embedding")
    val got = Clustering.kmeans(df, k = 2, iters = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val blobA = (0L until 6L).map(got).toSet
    val blobB = (6L until 12L).map(got).toSet
    assert(blobA.size == 1 && blobB.size == 1 && blobA != blobB)
    val rerun = Clustering.kmeans(df, k = 2, iters = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rerun == got)
  }

  test("kmeans on the corpus: full coverage, k cells, constant-size plan") {
    import graft.operators.Clustering
    val emb = Engine.table(spark, sf, "embeddings")
    val out = Clustering.kmeans(emb, k = 10, iters = 2)
    // assignment is a codegen'd reference-object kernel: the analyzed
    // plan must not grow with k×dim literal nodes (same discipline as
    // VecTopCells — see the production-nlist IVF test above)
    val planSize = out.queryExecution.analyzed.toString.length
    assert(planSize < 10000, s"plan unexpectedly large: $planSize chars")
    val rows = out.collect()
    assert(rows.length == emb.count())
    val clusters = rows.map(_.getLong(1)).toSet
    assert(clusters.subsetOf((0L until 10L).toSet) && clusters.size == 10)
  }

  test("unigramLogProb matches hand-computed corpus LM scores") {
    val docs = Seq((1L, "a a b"), (2L, "b c")).toDF("doc_id", "text")
    val got = TextAnalysis.unigramLogProb(docs)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    // counts: a=2 b=2 c=1, N=5
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val d1 = r6(-(2 * math.log(2.0 / 5) + math.log(2.0 / 5)) / 3)
    val d2 = r6(-(math.log(2.0 / 5) + math.log(1.0 / 5)) / 2)
    assert(got(1L) == ((3L, d1)))
    assert(got(2L) == ((2L, d2)))
  }

  test("Pii.scan counts and redacts emails, IPs, and phones") {
    import graft.operators.Pii
    val docs = Seq(
      (1L, "mail jane.doe+spam@mail.example.org or 192.168.1.10 ext 555-1234"),
      (2L, "no pii here, just 1.2 numbers and an at sign @ alone"),
      (3L, "two mails: a@b.co c@d.io")).toDF("doc_id", "text")
    val got = Pii.scan(docs).collect().map(r => r.getLong(0) ->
      ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))).toMap
    assert(got(1L) == ((1L, 1L, 1L, "mail <EMAIL> or <IP> ext <PHONE>")))
    assert(got(2L) ==
      ((0L, 0L, 0L, "no pii here, just 1.2 numbers and an at sign @ alone")))
    assert(got(3L) == ((2L, 0L, 0L, "two mails: <EMAIL> <EMAIL>")))
  }

  test("quantizeInt8 normalizes then rounds to symmetric int8") {
    import graft.operators.Similarity
    // norm(3,4) = 5 → q = round(x/5*127): 76.2 → 76, 101.6 → 102
    val df = Seq((7L, Array(3f, 4f))).toDF("vec_id", "embedding")
    val got = Similarity.quantizeInt8(df).collect()
      .map(r => (r.getLong(1), r.getLong(2))).toSet
    assert(got == Set((1L, 76L), (2L, 102L)))
  }

  test("randomProject is linear, deterministic, and matches interpreted eval") {
    import graft.operators.Similarity
    // integer-valued floats keep every intermediate sum exactly
    // representable, so linearity holds bit-exactly
    val a = Array.tabulate(8)(i => (i % 5 - 2).toFloat)
    val b = Array.tabulate(8)(i => ((i * 3) % 7 - 3).toFloat)
    val ab = a.zip(b).map { case (x, y) => x + y }
    val df = Seq((1L, a), (2L, b), (3L, ab)).toDF("vec_id", "embedding")
    val got = Similarity.randomProject(df, outDim = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(got.size == 12)
    (1L to 4L).foreach { j =>
      assert(got((3L, j)) == got((1L, j)) + got((2L, j)))
    }
    // interpreted eval agrees with the codegen'd path
    val expr = graft.plans.VecRandomProject(
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        a, org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.FloatType)), 4)
    val interp = expr.eval(null)
      .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].toDoubleArray()
    (1 to 4).foreach { j =>
      def r6(x: Double) =
        BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(got((1L, j.toLong)) == r6(interp(j - 1)))
    }
  }

  test("substringDupPairs counts distinct shared n-token spans") {
    val docs = Seq(
      (1L, "a b c d e f g h i j"),
      (2L, "z z a b c d e f g h i q"),
      (3L, "totally different words here with no overlap at all ok"))
      .toDF("doc_id", "text")
    val got = graft.operators.Dedup.substringDupPairs(docs, n = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // doc1 spans: a..h, b..i, c..j; doc2 contains a..h and b..i
    assert(got.toSeq == Seq((1L, 2L, 2L)))
  }

  test("gopherRules computes word stats and the composite flag") {
    val short = "the cat sat on the mat"
    val good = ("the quick brown fox jumps over a lazy dog and it is fine "
      * 5).trim
    val docs = Seq((1L, short), (2L, good)).toDF("doc_id", "text")
    val got = TextAnalysis.gopherRules(docs).collect().map(r => r.getLong(0) ->
      ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getLong(4),
        r.getBoolean(5)))).toMap
    // 6 words, mean len 17/6 < 3, "the" twice → fails on count and length
    assert(got(1L)._1 == 6L && got(1L)._4 == 2L && !got(1L)._5)
    assert(got(1L)._2 == BigDecimal(17.0 / 6)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    // 65 words, mean len 44/13, all-alpha, 25 stopwords → passes
    assert(got(2L)._1 == 65L && got(2L)._3 == 1.0 && got(2L)._5)
  }

  test("commonPhrases finds shared trigrams with exact doc frequencies") {
    val docs = Seq(
      (1L, "click here to unsubscribe now"),
      (2L, "click here to continue"),
      (3L, "click here to unsubscribe today"),
      (4L, "totally unrelated text body")).toDF("doc_id", "text")
    val got = TextAnalysis.commonPhrases(docs, minDocs = 2, topK = 10)
      .collect().map(r => r.getString(0) -> r.getLong(1))
    assert(got.head == ("click here to" -> 3L))
    assert(got.toMap.get("here to unsubscribe").contains(2L))
    // ordering: frequency desc, then phrase asc
    assert(got.map(-_._2).zip(got.map(_._1)).sorted.map(_._2).toSeq == got.map(_._1).toSeq)
  }

  test("intraDocDedup keeps first occurrences in order and counts drops") {
    val docs = Seq(
      (1L, "a b c a b d a"), // a kept at 0 (2 drops), b at 1 (1 drop)
      (2L, "x y z"),         // nothing repeated
      (3L, "w w w w")).toDF("doc_id", "text")
    val got = Dedup.intraDocDedup(docs, chunkTokens = 1)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got(1L) == (("a b c d", 4L, 3L)))
    assert(got(2L) == (("x y z", 3L, 0L)))
    assert(got(3L) == (("w", 1L, 3L)))
    // chunk grain: "a b" repeats as a chunk; "c a" ≠ "a b" so survives
    val chunked = Dedup.intraDocDedup(
      Seq((1L, "a b a b c a")).toDF("doc_id", "text"), chunkTokens = 2)
      .collect().map(r => (r.getString(1), r.getLong(2), r.getLong(3))).head
    assert(chunked == (("a b c a", 2L, 1L)))
  }

  test("cdcChunks re-aligns across insertions; chunks concat to the text") {
    val base = "the quick brown fox jumps over the lazy dog and runs far away " * 4
    val shifted = "zz " + base // one insertion at the top
    val docs = Seq((1L, base), (2L, shifted)).toDF("doc_id", "text")
    val ch = Dedup.cdcChunks(docs).collect()
      .groupBy(_.getLong(0))
      .view.mapValues(_.sortBy(_.getInt(1)).map(_.getString(2)).toSeq).toMap
    // chunks reassemble losslessly
    assert(ch(1L).mkString == base)
    assert(ch(2L).mkString == shifted)
    // content-defined boundaries: past the insertion-affected prefix
    // the chunk stream re-aligns — every doc-2 chunk but the first
    // already exists in doc 1
    val shared = ch(1L).toSet & ch(2L).toSet
    assert(ch(2L).drop(1).forall(ch(1L).toSet.contains),
      s"chunks did not re-align: ${ch(1L)} vs ${ch(2L)}")
    assert(!ch(1L).toSet.contains(ch(2L).head)) // prefix chunk is new
    // dedup keeps each shared chunk once, at its first occurrence
    val dd = Dedup.cdcDedup(docs).collect()
    assert(dd.map(_.getString(2)).distinct.length == dd.length)
    val owners = dd.map(r => r.getString(2) -> r.getLong(0)).toMap
    shared.foreach(c => assert(owners(c) == 1L))
  }

  test("Ranking.globalRowNumber equals the single-task global window") {
    import org.scalacheck.Gen
    val rnd = new scala.util.Random(7)
    // duplicate order-key values force cross-partition tie handling to
    // go through the unique tiebreak column
    val rows = (1L to 500L).map(i => (i, rnd.nextInt(40).toDouble))
    val df = rows.toDF("id", "v")
    val (ranked, total) = graft.operators.Ranking.globalRowNumber(
      df, Seq(col("v").desc_nulls_last, col("id")), "rn", partitions = 7)
    assert(total == 500L)
    val expected = df.withColumn("rn",
      row_number().over(org.apache.spark.sql.expressions.Window
        .orderBy(col("v").desc_nulls_last, col("id"))).cast("long"))
      .collect().map(r => (r.getLong(0), r.getDouble(1)) -> r.getLong(2)).toMap
    val got = ranked.collect()
      .map(r => (r.getLong(0), r.getDouble(1)) -> r.getLong(2)).toMap
    assert(got == expected)
    // empty input: zero rows, zero total, no divide-by-zero partitions
    val (empty, t0) = graft.operators.Ranking.globalRowNumber(
      df.filter(lit(false)), Seq(col("id")), "rn", partitions = 3)
    assert(t0 == 0L && empty.count() == 0L)
  }

  test("CdcBoundaries rolling kernel equals the per-position HOF formulation") {
    graft.plans.PolyHashExpr.register(spark)
    def fast(w: Int, d: Int) = org.apache.spark.sql.GraftSqlBridge.column(
      graft.plans.CdcBoundaries(
        org.apache.spark.sql.GraftSqlBridge.expression(col("text")),
        w, d.toLong, 31L, 1000000007L))
    // corpus text + adversarial shapes: empty, shorter than the window,
    // exactly the window, repeats that force repeated evictions of the
    // same code point, and multi-byte UTF-8 (2/3/4-byte sequences) so
    // the rolling decode is exercised off the ASCII fast path
    val edge = Seq("", "abc", "abcdefgh", "aaaaaaaaaaaaaaaaaaaa",
      "héllo wörld ünïcode ﬆring", "日本語のテキストです、長めの文",
      "emoji 😀😁 mixed ascii tail padding")
      .toDF("text")
    val docs = Engine.table(spark, sf, "documents").select("text")
    for ((w, d) <- Seq((8, 64), (4, 16), (5, 7))) {
      (docs.limit(200).union(edge))
        .select(fast(w, d).as("fast"),
          graft.operators.Dedup.cdcBoundariesHof(col("text"), w, d).as("hof"))
        .collect()
        .foreach(r => assert(r.getSeq[Int](0) == r.getSeq[Int](1),
          s"window=$w divisor=$d: ${r.getSeq[Int](0)} vs ${r.getSeq[Int](1)}"))
    }
    // the kernel stays a single codegen'd projection
    val plan = docs.select(fast(8, 64))
      .queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project"), plan)
  }

  test("crossDocDedupDocs drops later cross-doc chunks, rebuilds in order") {
    val docs = Seq(
      (1L, "a b c"),  // all chunks first occurrences
      (2L, "b d a"),  // b, a seen in doc 1 → only d survives
      (3L, "a c b"))  // fully boilerplate → vanishes
      .toDF("doc_id", "text")
    val got = Dedup.crossDocDedupDocs(docs, chunkTokens = 1)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got(1L) == (("a b c", 3L, 0L)))
    assert(got(2L) == (("d", 1L, 2L)))
    assert(!got.contains(3L))
    // duplicate chunk WITHIN one doc also collapses to its first pos
    val within = Dedup.crossDocDedupDocs(
      Seq((7L, "p q p")).toDF("doc_id", "text"), chunkTokens = 1)
      .collect().map(r => (r.getString(1), r.getLong(2), r.getLong(3))).head
    assert(within == (("p q", 2L, 1L)))
  }

  test("urlCanonicalize folds scheme/host case, ports, www, tracking, fragments") {
    val cases = Seq(
      ("HTTPS://WWW.Ex.COM:443/A/?utm_source=x&id=7&utm_campaign=y#f",
        "https://ex.com/A?id=7"),
      ("http://Ex.com:80/path/sub/", "http://ex.com/path/sub"),
      ("http://ex.com:8080/p", "http://ex.com:8080/p"), // non-default port kept
      ("https://ex.com/?utm_source=o", "https://ex.com"),
      ("https://sub.www.ex.com/p?a=1&b=2", "https://sub.www.ex.com/p?a=1&b=2"))
    val got = cases.map(_._1).toDF("url")
      .select(TextAnalysis.urlCanonicalize(col("url"))).collect().map(_.getString(0))
    got.zip(cases.map(_._2)).foreach { case (g, want) => assert(g == want, s"got $g") }
  }

  test("bm25TopK ranks by term relevance with length normalization") {
    val docs = Seq(
      (1L, "spark spark spark join"),          // heavy on query terms
      (2L, "spark join other words here now"), // both terms, diluted
      (3L, "spark alone"),
      (4L, "nothing relevant at all"),         // no query terms → absent
      (5L, "join join")).toDF("doc_id", "text")
    val got = TextAnalysis.bm25TopK(docs, Seq("spark", "join"), topK = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
    assert(got.map(_._1).toSet == Set(1L, 2L, 3L, 5L))
    // doc 1 (max tf on both terms, short) must rank first
    assert(got.head._1 == 1L)
    // two-term docs report n_terms=2, single-term docs 1
    val nt = got.map(g => g._1 -> g._3).toMap
    assert(nt(1L) == 2L && nt(2L) == 2L && nt(3L) == 1L && nt(5L) == 1L)
    assert(got.forall(_._2 > 0.0))
    // scores are non-increasing in rank order
    assert(got.map(_._2).sliding(2).forall(p => p.length < 2 || p(0) >= p(1)))
    // idf: with df("join")=3 < df("spark")... both appear 3 times; a
    // rarer term must outweigh a common one at equal tf/dl
    val rare = Seq((1L, "aa bb"), (2L, "aa cc"), (3L, "aa dd"))
      .toDF("doc_id", "text")
    val r = TextAnalysis.bm25TopK(rare, Seq("aa", "bb"), topK = 3)
      .collect().map(x => (x.getLong(0), x.getDouble(1))).toMap
    assert(r(1L) > r(2L)) // doc 1 has the rare term bb on top of aa
  }

  test("dsirWeights: target-like docs score higher; n_feats = uni+bigrams") {
    // two vocabularies: target docs speak "alpha", raw-only docs "beta";
    // a held-out alpha-speaker must outscore a beta-speaker
    val docs = Seq(
      (1L, "alpha alpha prime alpha", true),
      (2L, "alpha prime alpha alpha", true),
      (3L, "beta gamma beta gamma", false),
      (4L, "beta beta gamma beta", false),
      (5L, "alpha prime alpha", false), // held-out target-like
      (6L, "gamma beta gamma", false))  // held-out raw-like
      .toDF("doc_id", "text", "is_tgt")
    val got = TextAnalysis.dsirWeights(docs, isTarget = col("is_tgt"),
        buckets = 64)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2))))
      .toMap
    // 4 tokens + 3 bigrams = 7 features for docs 1-4; 3+2=5 for 5-6
    assert(got(1L)._1 == 7L && got(5L)._1 == 5L)
    assert(got(5L)._2 > got(6L)._2,
      s"target-like ${got(5L)} must outscore raw-like ${got(6L)}")
    assert(got(1L)._2 > got(3L)._2)
  }

  test("ivfPqTopK recovers brute-force neighbors on clustered data") {
    // 4 tight blobs in 8-dim space, 48 vectors; within-blob neighbors
    // dominate, so probing the right cells + PQ shortlist must recover
    // nearly all exact top-3
    val vecs = (0 until 48).map { i =>
      val blob = i % 4
      val v = Array.tabulate(8)(d =>
        (if (d == blob * 2 || d == blob * 2 + 1) 5.0f else 0.05f)
          + (i / 4) * 0.01f)
      (i.toLong, v.toSeq)
    }
    val emb = vecs.toDF("vec_id", "embedding")
    val qs = emb.filter(col("vec_id") < 6)
    val got = Similarity.ivfPqTopK(emb, qs, k = 3, dim = 8,
        nlist = 4, nprobe = 2, m = 4, codes = 4, iters = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = Similarity.bruteForceTopK(emb, qs, k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(brute.size == 18)
    val recall = (brute & got).size.toDouble / brute.size
    assert(recall >= 0.8, s"recall $recall; got=$got brute=$brute")
    // contract bits: k rows per query, ranks 1..k, exact cosine in [-1,1]
    val rows = Similarity.ivfPqTopK(emb, qs, k = 3, dim = 8,
      nlist = 4, nprobe = 2, m = 4, codes = 4, iters = 2).collect()
    assert(rows.groupBy(_.getLong(0)).forall { case (_, rs) =>
      rs.map(_.getInt(2)).sorted.toSeq == (1 to 3) })
    assert(rows.forall(r => math.abs(r.getDouble(3)) <= 1.0 + 1e-9))
  }

  test("pplBuckets: fluent docs land in lower buckets than rare-word docs") {
    // 6 docs of common vocabulary, 3 of singleton words: the common-
    // vocab docs have much lower unigram perplexity
    val docs = (
      (1L to 6L).map(i => (i, "the cat sat on the mat")) ++
      Seq((7L, "zyx wvu tsr"), (8L, "qpo nml kji"), (9L, "hgf edc baz")))
      .toDF("doc_id", "text")
    val got = TextAnalysis.pplBuckets(docs, buckets = 3)
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    assert(got.values.forall(b => b >= 1 && b <= 3))
    // every fluent doc buckets strictly below every rare-word doc
    val fluentMax = (1L to 6L).map(got).max
    val rareMin = (7L to 9L).map(got).min
    assert(fluentMax < rareMin, s"got $got")
  }

  test("classifierScore: mean bucket weight, sign gate, exact fold") {
    // all-ones model: every token weighs 1.0 → score is exactly 1,
    // regardless of which bucket each token hashes to
    val docs = Seq((1L, "aa bb cc"), (2L, "dd")).toDF("doc_id", "text")
    val ones = TextAnalysis.classifierScore(docs, Array.fill(8)(1.0))
      .collect().map(r =>
        r.getLong(0) -> ((r.getLong(1), r.getDouble(2), r.getBoolean(3))))
      .toMap
    assert(ones(1L) == ((3L, 1.0, true)))
    assert(ones(2L) == ((1L, 1.0, true)))
    // all-negative model flips the gate; norm rescales the score
    val neg = TextAnalysis.classifierScore(docs, Array.fill(8)(-4.0),
        norm = 4.0)
      .collect().map(r => r.getLong(0) -> ((r.getDouble(2), r.getBoolean(3))))
      .toMap
    assert(neg(1L) == ((-1.0, false)))
    // bias shifts the raw sum before the gate: 3 tokens × -4 + 13 > 0
    val biased = TextAnalysis.classifierScore(docs, Array.fill(8)(-4.0),
        bias = 13.0)
      .collect().map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    assert(biased(1L) && biased(2L))
  }

  test("productQuantize: codes in range, reconstruction beats mean coder") {
    // 3 well-separated 4-dim blob directions, 24 vectors
    val vecs = (0 until 24).map { i =>
      val base = i % 3
      val v = Array.tabulate(4)(d =>
        (if (d == base) 10.0f else 0.1f) + (i / 3) * 0.01f)
      (i.toLong, v.toSeq)
    }
    val emb = vecs.toDF("vec_id", "embedding")
    val pq = Similarity.productQuantize(emb, dim = 4, m = 2, k = 3, iters = 2)
      .collect()
    assert(pq.length == 24)
    assert(pq.forall(_.getSeq[Int](1).forall(c => c >= 0 && c < 3)))
    val errs = pq.map(_.getDouble(2))
    assert(errs.forall(e => e >= 0.0 && !e.isNaN))
    // with k=3 codes per 2-dim subspace the 3 blob directions are
    // separable: reconstruction error must beat the variance baseline
    val mean = Array.tabulate(4)(d => vecs.map(_._2(d).toDouble).sum / 24)
    val baseMse = vecs.map(v =>
      v._2.zipWithIndex.map { case (x, d) => math.pow(x - mean(d), 2) }.sum)
      .sum / 24
    assert(errs.sum / 24 < baseMse * 0.1)
  }

  test("leakageSafeSplit: clusters never straddle; singletons match plain split") {
    import spark.implicits._
    // 0-1-2 one cluster, 3-4 another, 5..9 singletons
    val docs = (0L to 9L).toDF("doc_id")
    val pairs = Seq((0L, 1L), (1L, 2L), (3L, 4L)).toDF("id_a", "id_b")
    val labels = operators.Dedup.connectedComponents(pairs)
    val out = operators.Sampling.leakageSafeSplit(docs, "doc_id", labels, 10)
      .select("doc_id", "split_key", "split").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sortBy(_._1)
    // one split decision per cluster, keyed by the min-id label
    assert(out.filter(_._1 <= 2).map(t => (t._2, t._3)).distinct.length == 1)
    assert(out.filter(t => t._1 == 3 || t._1 == 4)
      .map(t => (t._2, t._3)).distinct.length == 1)
    assert(out.filter(_._1 <= 2).head._2 == 0L)
    // singletons: split_key is the doc's own id -> identical decision
    // to the plain trainEvalSplit hash rule
    val plain = operators.Sampling
      .trainEvalSplit((5L to 9L).toDF("doc_id"), "doc_id", 10)
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    assert(out.filter(_._1 >= 5L).map(t => (t._1, t._3)).toSeq == plain.toSeq)
  }

  test("WAV codec: round trip, odd-chunk walk tolerance, rejection") {
    val samples = Array.tabulate(100)(i => ((i * 37) % 2048 - 1024).toShort)
    val wav = operators.Multimodal.encodePcm16Wav(16000, samples)
    val d = operators.Multimodal.decodeWav(wav).get
    assert(d.sampleRate == 16000 && d.nSamples == 100)
    assert(d.peak == samples.map(s => math.abs(s.toInt)).max)
    assert(d.sumAbs == samples.map(s => math.abs(s.toInt).toLong).sum)
    // an odd-length JUNK chunk between fmt and data must be skipped
    // with word alignment (real-world WAVs carry LIST/INFO/JUNK)
    val junk = "JUNK".getBytes("US-ASCII") ++
      Array[Byte](5, 0, 0, 0) ++ "abcde".getBytes("US-ASCII") ++
      Array[Byte](0) // pad to even
    val padded = wav.take(36) ++ junk ++ wav.drop(36)
    assert(operators.Multimodal.decodeWav(padded).contains(d))
    assert(operators.Multimodal.decodeWav("not audio at all".getBytes).isEmpty)
    assert(operators.Multimodal.decodeWav(Array.fill[Byte](100)(0)).isEmpty)
  }

  test("Scd.merge2 versions changed keys, keeps no-ops, inserts new keys") {
    val dim = Seq((1L, "A", 0L), (2L, "B", 0L), (3L, "C", 0L))
      .toDF("key", "attr", "valid_from")
    val updates = Seq((1L, "A2"), (2L, "B"), (9L, "NEW")).toDF("key", "attr")
    val out = operators.Scd.merge2(dim, updates, batchTs = 50L)
      .collect()
      .map(r => (r.getLong(0), r.getString(1),
        r.getLong(2), if (r.isNullAt(3)) -1L else r.getLong(3), r.getBoolean(4)))
      .sortBy(t => (t._1, t._3))
    assert(out.toSeq == Seq(
      (1L, "A", 0L, 50L, false),   // changed: old row closed at batch ts
      (1L, "A2", 50L, -1L, true),  // ...and the new version opened
      (2L, "B", 0L, -1L, true),    // no-op update: single open row kept
      (3L, "C", 0L, -1L, true),    // untouched key
      (9L, "NEW", 50L, -1L, true)) // insert
    )
  }

  test("compactionPlan: groups respect the target with at-most-one-file overflow") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val gen = Gen.listOfN(40, Gen.zip(Gen.oneOf("p1", "p2"),
      Gen.choose(1L, 900000L)))
    (0 until 3).foreach { i =>
      val files = gen(Gen.Parameters.default, Seed(42L + i)).get
        .zipWithIndex.map { case ((p, b), j) => (p, s"f$j", b) }
      val plan = operators.Layout.compactionPlan(
        files.toDF("part", "file", "bytes"), "part", "file", "bytes",
        targetBytes = 1000000L).collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
      // every file appears exactly once
      assert(plan.length == files.size)
      plan.groupBy(t => (t._1, t._4)).foreach { case ((_, _), members) =>
        val total = members.map(_._3).sum
        val maxFile = members.map(_._3).max
        // a group only exceeds the target by its last-added file
        assert(total - maxFile < 1000000L, members.mkString(","))
      }
      // group ids are dense from 0 within each partition
      plan.groupBy(_._1).foreach { case (_, ms) =>
        val ids = ms.map(_._4).distinct.sorted.toSeq
        assert(ids == (0L until ids.length).toSeq, ids)
      }
    }
  }

  test("pngHeader matches the full decoder's dimensions without inflating") {
    for (id <- Seq(0L, 17L, 255L, 1000L)) {
      val w = (id % 64 + 16).toInt; val h = (id % 48 + 16).toInt
      val png = operators.Multimodal.encodeSolidPng(w, h, (id % 256).toInt)
      val (pw, ph, depth, ctype) = operators.Multimodal.pngHeader(png).get
      val full = operators.Multimodal.decodeImage(png).get
      assert((pw, ph) == (full.width, full.height) && (pw, ph) == (w, h))
      assert(depth == 8 && ctype == 2) // 8-bit truecolor
    }
    assert(operators.Multimodal.pngHeader("not a png at all!!".getBytes).isEmpty)
    assert(operators.Multimodal.pngHeader(
      operators.Multimodal.encodePcm16Wav(8000, Array[Short](1, 2))).isEmpty)
  }

  test("gifHeader/bmpHeader agree with ImageIO dims and reject foreign bytes") {
    for ((w, h, g) <- Seq((16, 9, 0), (320, 200, 3), (1, 1, 7))) {
      val gif = operators.Multimodal.encodeGif(w, h, g)
      assert(operators.Multimodal.gifHeader(gif).contains((w, h, g)))
      // a zero-frame fixture: ImageIO would need an image descriptor,
      // but the header scan must not (that's the point of the scan)
    }
    for ((w, h, bpp) <- Seq((8, 8, 1), (100, 50, 8), (33, 7, 24))) {
      val bmp = operators.Multimodal.encodeBmp(w, h, bpp)
      assert(operators.Multimodal.bmpHeader(bmp).contains((w, h, bpp)))
    }
    // top-down BMP: negative height reported as absolute
    val td = operators.Multimodal.encodeBmp(10, -20, 24)
    assert(operators.Multimodal.bmpHeader(td).contains((10, 20, 24)))
    // no global color table: GCT flag clear -> size field reported -1
    // (the size bits are meaningless without the flag, GIF89a §18)
    val noGct = operators.Multimodal.encodeGif(5, 6, 3)
    noGct(10) = 0x03.toByte // clear bit 7, keep (now meaningless) bits
    assert(operators.Multimodal.gifHeader(noGct).contains((5, 6, -1)))
    intercept[IllegalArgumentException] {
      operators.Multimodal.encodeGif(70000, 10, 0)
    }
    // TIFF: both byte orders round-trip; SHORT + LONG value layouts
    for (le <- Seq(true, false); (w, h, bps) <- Seq((12, 9, 1), (70000, 3, 8)))
      assert(operators.Multimodal.tiffHeader(
        operators.Multimodal.encodeTiff(w, h, bps, le)).contains((w, h, bps)),
        s"tiff $le ${w}x$h@$bps")
    val wav = operators.Multimodal.encodePcm16Wav(8000, Array[Short](1, 2))
    assert(operators.Multimodal.gifHeader(wav).isEmpty)
    assert(operators.Multimodal.bmpHeader(wav).isEmpty)
    assert(operators.Multimodal.tiffHeader(wav).isEmpty)
    assert(operators.Multimodal.tiffHeader("II!!".getBytes).isEmpty)
    assert(operators.Multimodal.gifHeader(Array[Byte](1, 2, 3)).isEmpty)
    assert(operators.Multimodal.bmpHeader(Array[Byte]('B', 'M', 3)).isEmpty)
  }

  test("labelPropagation equals brute-force synchronous LPA") {
    import spark.implicits._
    // two triangles bridged by one edge, plus a pendant vertex
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (4L, 5L), (5L, 6L),
      (6L, 4L), (3L, 4L), (6L, 7L), (2L, 1L)).toDF("src", "dst")
    val iters = 3
    val got = operators.Graph.labelPropagation(edges, iters)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // brute force: symmetric adjacency, same deterministic rule
    val und = Seq((1, 2), (2, 3), (3, 1), (4, 5), (5, 6), (6, 4), (3, 4),
      (6, 7)).flatMap { case (a, b) => Seq(a -> b, b -> a) }
    val adj = und.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    var lab = adj.keys.map(n => n -> n.toLong).toMap
    for (_ <- 1 to iters) {
      lab = adj.map { case (n, nbs) =>
        val votes = nbs.groupBy(lab).view.mapValues(_.size)
        n -> votes.toSeq.map { case (l, c) => (-c, l) }.min._2
      }
    }
    assert(got == lab.map { case (k, v) => k.toLong -> v },
      s"$got vs $lab")
    // the 1-2-3 triangle coalesces onto label 1 (the bridged triangle
    // keeps oscillating under synchronous updates — expected LPA
    // behavior, which is why the round count is a fixed parameter)
    assert(Set(got(1L), got(2L), got(3L)) == Set(1L))
  }

  test("EntityResolution.resolve equals brute-force best-match on blocked candidates") {
    import spark.implicits._
    val canon = Seq("red widget", "blue widget", "green bolt", "small ring",
      "golden gear", "ivory gear").toDF("name")
    // one deletion each, plus an exact name and an unresolvable junk row
    val dirty = Seq("rd widget", "blue widgt", "green blt", "small rng",
      "golden gear", "zzzzzzzzz").toDF("name")
    val got = operators.EntityResolution
      .resolve(dirty, canon, "name", block = 3, maxDist = 2)
      .collect().map(r => r.getString(0) -> (r.getString(1), r.getInt(2)))
      .toMap
    val canonNames = canon.collect().map(_.getString(0)).toSeq
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) =>
        if (i == 0) j else if (j == 0) i else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j), d(i)(j - 1)) + 1,
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    for (dn <- dirty.collect().map(_.getString(0))) {
      val best = canonNames
        .filter(c => c.take(3) == dn.take(3) || c.takeRight(3) == dn.takeRight(3))
        .map(c => (lev(dn, c), c)).filter(_._1 <= 2).sorted.headOption
      assert(got.get(dn) == best.map { case (dist, c) => (c, dist) },
        s"$dn: ${got.get(dn)} vs $best")
    }
    assert(!got.contains("zzzzzzzzz"))
    assert(got("golden gear") == ("golden gear", 0))
  }

  test("containmentPairs is directional: the quoted doc scores 1.0, the quoter lower") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"), // fully quoted inside 2
      (2L, "intro words here alpha beta gamma delta epsilon zeta plus " +
        "lots of extra trailing content tokens everywhere around it"),
      (3L, "completely different text about other things entirely"))
      .toDF("doc_id", "text")
    val out = operators.Dedup.containmentPairs(docs, "doc_id", "text",
        n = 3, threshold = 0.9, tokens = true)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // 1→2 is full containment; 2→1 fails the threshold (2 has many
    // shingles outside 1); 3 pairs with nobody
    assert(out.map(t => (t._1, t._2)).toSet == Set((1L, 2L)))
    assert(out.head._3 == 1.0)
  }

  test("Scd.merge2 invariants hold on random dimensions and update batches") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val gen = for {
      nDim <- Gen.choose(0, 12)
      dimKeys <- Gen.pick(nDim, 0L until 20L)
      dimAttrs <- Gen.listOfN(nDim, Gen.oneOf("A", "B", "C"))
      nUpd <- Gen.choose(0, 12)
      updKeys <- Gen.pick(nUpd, 0L until 25L)
      updAttrs <- Gen.listOfN(nUpd, Gen.oneOf("A", "B", "C"))
    } yield (dimKeys.toSeq.zip(dimAttrs), updKeys.toSeq.zip(updAttrs))
    (0 until 5).foreach { i =>
      val (dimRows, updRows) = gen(Gen.Parameters.default, Seed(77L + i)).get
      val dim = dimRows.map { case (k, a) => (k, a, 0L) }
        .toDF("key", "attr", "valid_from")
      val upd = updRows.toDF("key", "attr")
      val out = operators.Scd.merge2(dim, upd, 9L).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
          if (r.isNullAt(3)) -1L else r.getLong(3), r.getBoolean(4)))
      val dimMap = dimRows.toMap
      val updMap = updRows.toMap
      val changed = dimMap.keySet.intersect(updMap.keySet)
        .count(k => dimMap(k) != updMap(k))
      val inserts = updMap.keySet.diff(dimMap.keySet).size
      assert(out.length == dimRows.size + changed + inserts, s"seed ${77 + i}")
      // exactly one open row per surviving key, carrying the latest attr
      val open = out.filter(_._5)
      assert(open.map(_._1).distinct.length == open.length)
      assert(open.length == dimMap.keySet.union(updMap.keySet).size)
      open.foreach { case (k, a, _, vt, _) =>
        assert(vt == -1L)
        assert(a == updMap.getOrElse(k, dimMap(k)))
      }
      // every closed row closed at the batch timestamp
      out.filterNot(_._5).foreach { case (k, a, _, vt, _) =>
        assert(vt == 9L && a == dimMap(k) && updMap(k) != a)
      }
    }
  }

  test("Scd.lastWins reduces a multi-change CDC batch before merge2") {
    // key 1 changes twice in one batch: only the latest survives
    val batch = Seq((1L, "X", 10L), (1L, "Y", 20L), (2L, "B", 5L))
      .toDF("key", "attr", "seq")
    val reduced = operators.Scd.lastWins(batch, "key", "attr", "seq")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(reduced == Map(1L -> "Y", 2L -> "B"))
    val dim = Seq((1L, "A", 0L)).toDF("key", "attr", "valid_from")
    val out = operators.Scd.merge2(dim,
        operators.Scd.lastWins(batch, "key", "attr", "seq"), 50L)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getBoolean(4)))
    // exactly one open row per key — the invariant raw duplicates break
    assert(out.count(t => t._1 == 1L && t._3) == 1)
    assert(out.toSet == Set((1L, "A", false), (1L, "Y", true), (2L, "B", true)))
  }

  test("Scd.merge2 treats NULL attributes as values, not as join misses") {
    val dim = Seq((1L, Option.empty[String], 0L), (2L, Some("B"), 0L))
      .toDF("key", "attr", "valid_from")
    // 1: NULL -> X (a real change); 2: B -> NULL (also a real change)
    val updates = Seq((1L, Some("X")), (2L, Option.empty[String]))
      .toDF("key", "attr")
    val out = operators.Scd.merge2(dim, updates, 50L).collect()
      .map(r => (r.getLong(0), Option(r.getString(1)),
        r.getLong(2), if (r.isNullAt(3)) -1L else r.getLong(3), r.getBoolean(4)))
      .sortBy(t => (t._1, t._3))
    assert(out.toSeq == Seq(
      (1L, None, 0L, 50L, false), (1L, Some("X"), 50L, -1L, true),
      (2L, Some("B"), 0L, 50L, false), (2L, None, 50L, -1L, true)))
    // and NULL -> NULL is a no-op, not a new version
    val noop = operators.Scd.merge2(
      Seq((3L, Option.empty[String], 0L)).toDF("key", "attr", "valid_from"),
      Seq((3L, Option.empty[String])).toDF("key", "attr"), 50L).collect()
    assert(noop.length == 1 && noop(0).getBoolean(4) && noop(0).getLong(2) == 0L)
  }

  test("hits normalization stays exact past the Long-multiply range") {
    // scale chosen so sum(hub) * scale overflows a Long: 3 hubs at full
    // scale feed one authority -> ar = 6e18 (fits), ar*scale = 1.2e37
    // (wraps in Long, exact in the DECIMAL(38,0) path)
    val big = 2000000000000000000L // 2e18
    val edges = Seq(("a", "x"), ("b", "x"), ("c", "x")).toDF("src", "dst")
    val got = operators.Graph.hits(edges, iters = 1, scale = big)
      .collect().map(x => x.getString(0) -> (x.getLong(1), x.getLong(2))).toMap
    // model in BigInt: ar(x) = 3*big -> auth normalizes to big; each
    // hub's hr = auth(x) = big -> hub normalizes to big
    assert(got("x") == (0L, big))
    assert(got("a") == (big, 0L) && got("b") == (big, 0L) && got("c") == (big, 0L))
  }

  test("pageRank equals a driver-side fixed-point model on random graphs") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    def model(edges: Seq[(String, String)], iters: Int): Map[String, Long] = {
      val e = edges.distinct
      val verts = (e.map(_._1) ++ e.map(_._2)).distinct
      val out = e.groupBy(_._1).view.mapValues(_.size.toLong).toMap
      val teleport = 1000000000000L * 15L / 100L / verts.size
      var r = verts.map(_ -> 1000000000000L / verts.size).toMap
      for (_ <- 1 to iters) {
        val in = e.groupBy(_._2).view
          .mapValues(_.map { case (s, _) => r(s) / out(s) }.sum).toMap
        r = verts.map(v =>
          v -> (teleport + 85L * in.getOrElse(v, 0L) / 100L)).toMap
      }
      r
    }
    val gen = for {
      n <- Gen.choose(2, 12)
      m <- Gen.choose(1, 30)
      es <- Gen.listOfN(m, Gen.zip(Gen.choose(0, n - 1), Gen.choose(0, n - 1)))
    } yield es.map { case (a, b) => (s"v$a", s"v$b") }
    (0 until 5).foreach { i =>
      val edges = gen(Gen.Parameters.default, Seed(1000L + i)).get
      val got = operators.Graph.pageRank(edges.toDF("src", "dst"), iters = 3)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(got == model(edges, 3), s"graph seed ${1000 + i}: $edges")
    }
  }

  test("hits equals a driver-side fixed-point model; hub/auth split a bipartite graph") {
    def model(edges: Seq[(String, String)], iters: Int)
      : Map[String, (Long, Long)] = {
      val e = edges.distinct
      val verts = (e.map(_._1) ++ e.map(_._2)).distinct
      var hub = verts.map(_ -> 1000000L).toMap
      var auth = Map.empty[String, Long]
      for (_ <- 1 to iters) {
        val ar = e.groupBy(_._2).view.mapValues(_.map(p => hub(p._1)).sum).toMap
        val amax = ar.values.max
        auth = verts.map(v => v -> ar.getOrElse(v, 0L) * 1000000L / amax).toMap
        val hr = e.groupBy(_._1).view.mapValues(_.map(p => auth(p._2)).sum).toMap
        val hmax = hr.values.max
        hub = verts.map(v => v -> hr.getOrElse(v, 0L) * 1000000L / hmax).toMap
      }
      verts.map(v => v -> (hub(v), auth(v))).toMap
    }
    // citations: two hubs cite {x, y}; one weak hub cites only x
    val edges = Seq(("h1", "x"), ("h1", "y"), ("h2", "x"), ("h2", "y"),
      ("weak", "x"))
    val got = operators.Graph.hits(edges.toDF("src", "dst"), iters = 2)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got == model(edges, 2))
    assert(got("x")._2 == 1000000L)              // most-cited authority
    assert(got("x")._2 > got("y")._2)            // weak hub's extra citation
    assert(got("h1")._1 == 1000000L && got("h1")._1 == got("h2")._1)
    assert(got("weak")._1 < got("h1")._1)        // cites fewer authorities
    assert(got("x")._1 == 0L && got("h1")._2 == 0L) // pure sides stay pure
  }

  test("pageRank: a sink hub outranks its spokes; mass stays bounded") {
    // star: three spokes all link to the hub; hub links to one spoke
    val edges = Seq(("a", "hub"), ("b", "hub"), ("c", "hub"), ("hub", "a"))
      .toDF("src", "dst")
    val r = operators.Graph.pageRank(edges, iters = 3)
      .collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(r("hub") > r("a") && r("a") > r("b") && r("b") == r("c"))
    assert(r.values.sum <= 1000000000000L) // dangling/rounding mass only leaks down
  }

  test("prefixFilterJaccardPairs equals brute-force Jaccard on random docs") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val vocab = ('a' to 't').map(_.toString)
    // clusters of near-identical docs + random background docs
    val docs = (0 until 30).map { i =>
      val base = if (i < 10) Seq("x", "y", "z", "w", "v", vocab(i % 5))
        else rnd.shuffle(vocab).take(4 + rnd.nextInt(8)).toSeq
      (i.toLong, rnd.shuffle(base).mkString(" "))
    }
    val sets = docs.map { case (id, txt) =>
      id -> txt.split("\\s+").filter(_.nonEmpty).toSet }.toMap
    val brute = (for {
      a <- sets.keys; b <- sets.keys if a < b
      inter = (sets(a) & sets(b)).size
      if 9 * inter >= 4 * (sets(a).size + sets(b).size)
    } yield (a, b, inter.toLong,
      (sets(a).size + sets(b).size - inter).toLong)).toSet
    val got = graft.operators.Dedup
      .prefixFilterJaccardPairs(docs.toDF("doc_id", "text"), tNum = 4, tDen = 5)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(got == brute,
      s"missed=${brute -- got} extra=${got -- brute}")

    // shingle mode: same theorem over 3-token shingle sets
    val shSets = docs.map { case (id, txt) =>
      val w = txt.split("\\s+").filter(_.nonEmpty)
      id -> w.sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSet
    }.toMap
    val shBrute = (for {
      a <- shSets.keys; b <- shSets.keys
      if a < b && shSets(a).nonEmpty && shSets(b).nonEmpty
      inter = (shSets(a) & shSets(b)).size
      if 9 * inter >= 4 * (shSets(a).size + shSets(b).size)
    } yield (a, b, inter.toLong,
      (shSets(a).size + shSets(b).size - inter).toLong)).toSet
    val shGot = graft.operators.Dedup
      .prefixFilterJaccardPairs(docs.toDF("doc_id", "text"),
        tNum = 4, tDen = 5, shingleN = 3)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(shGot == shBrute,
      s"shingles: missed=${shBrute -- shGot} extra=${shGot -- shBrute}")
  }

  test("ngramJaccardPairsLenBounded: lossless when wide, prunes cross-length") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy cat"),
      (3L, "the quick brown fox jumps over the lazy dog " +
        Seq.fill(40)("pad").mkString(" "))).toDF("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1),
        math.round(r.getDouble(2) * 1e9))).toSet
    val plain = rows(graft.operators.Dedup.ngramJaccardPairs(
      docs, "doc_id", "text", 3, 0.1, tokens = true))
    val wide = rows(graft.operators.Dedup.ngramJaccardPairsLenBounded(
      docs, "doc_id", "text", 3, 0.1, maxLenDiff = 1000, tokens = true))
    // a window wider than any length delta changes nothing
    assert(wide == plain, s"wide window diverged: $wide vs $plain")
    assert(plain.exists { case (a, b, _) => a == 1L && b == 3L },
      "test premise: (1,3) should pass the unfiltered threshold")
    val narrow = rows(graft.operators.Dedup.ngramJaccardPairsLenBounded(
      docs, "doc_id", "text", 3, 0.1, maxLenDiff = 10, tokens = true))
    // the padded doc 3 is >10 chars longer than 1 and 2: pruned in-join
    assert(narrow == plain.filter { case (a, b, _) => b != 3L },
      s"narrow window kept a cross-length pair: $narrow")
  }

  test("triangles counts K4 and ignores pendant paths") {
    import spark.implicits._
    // K4 on {1,2,3,4}: each vertex is in C(3,2)=3 triangles; the
    // pendant path 4-5-6 adds none. Edges mixed-direction + a dup +
    // a self-loop to exercise canonicalization.
    val edges = Seq((1L, 2L), (2L, 1L), (1L, 3L), (4L, 1L), (2L, 3L),
        (2L, 4L), (3L, 4L), (4L, 5L), (5L, 6L), (6L, 6L))
      .toDF("src", "dst")
    val got = graft.operators.Graph.triangles(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L), got.toString)
  }

  test("triangles equals brute-force enumeration across random graphs") {
    import spark.implicits._
    for (seed <- Seq(7, 23, 91)) {
      val rnd = new scala.util.Random(seed)
      val edges = Seq.fill(300)((rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
      val adj = edges.flatMap { case (a, b) => Seq(a -> b, b -> a) }
        .filter { case (a, b) => a != b }
        .groupBy(_._1).map { case (v, e) => v -> e.map(_._2).toSet }
      val verts = adj.keys.toSeq.sorted
      val brute = verts.map { v =>
        val n = adj(v).toSeq
        v -> (for {
          i <- n.indices; j <- (i + 1) until n.size
          if adj(n(i)).contains(n(j))
        } yield 1).size.toLong
      }.filter(_._2 > 0).toMap
      val got = graft.operators.Graph.triangles(edges.toDF("src", "dst"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == brute, s"seed=$seed got=$got brute=$brute")
    }
  }

  test("clusteringCoefficient: K4 corners are 1.0, pendant chain is 0") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
        (3L, 4L), (4L, 5L), (5L, 6L))
      .toDF("src", "dst")
    val got = graft.operators.Graph.clusteringCoefficient(edges)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toMap
    // 1,2,3 sit in a pure K4 corner: 3 triangles over C(3,2)=3 pairs
    Seq(1L, 2L, 3L).foreach(v => assert(got(v) == ((3L, 3L, 1.0)), s"$v: ${got(v)}"))
    // 4 has degree 4 (K4 + pendant): 3 triangles over C(4,2)=6 pairs
    assert(got(4L) == ((3L, 4L, 0.5)))
    // chain vertices close nothing
    assert(got(5L) == ((0L, 2L, 0.0)) && got(6L) == ((0L, 1L, 0.0)))
  }

  test("cmsHeavyHitters never underestimates and ranks the true heavy key first") {
    import spark.implicits._
    // key 7 appears 62x (60 + once in each background range); 40
    // background keys once or twice
    val rows = (Seq.fill(60)(7L) ++ (1L to 40L) ++ (1L to 20L)).toDF("k")
    val got = graft.operators.Sketches
      .cmsHeavyHitters(rows, "k", depth = 4, width = 64, topK = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.head._1 == 7L && got.head._3 == 62L)
    got.foreach { case (k, est, exact) =>
      assert(est >= exact, s"CMS underestimated key $k: $est < $exact") }
  }

  test("rakePhrases scores stopword-free runs by the deg/freq sum") {
    import spark.implicits._
    val docs = Seq((1L, "the quick brown fox of the lazy dog")).toDF("doc_id", "text")
    val got = graft.operators.TextAnalysis
      .rakePhrases(docs, Seq("the", "of"), topK = 10)
      .collect().map(r => r.getString(0) -> (r.getInt(1), r.getLong(2), r.getLong(3)))
      .toMap
    // each word appears once (freq 1); Rose-2010 deg = len per member:
    // "quick brown fox" = 3 words x (3 * 1e6) = 9e6; "lazy dog" = 2 x 2e6
    assert(got == Map(
      "quick brown fox" -> ((3, 1L, 9000000L)),
      "lazy dog" -> ((2, 1L, 4000000L))), got.toString)
  }

  test("CMS hash rows each cover the full cell range (odd multipliers)") {
    // an even row multiplier collapses that row onto a fraction of the
    // cells (odd base + odd step made rows 1 and 3 cover 32/256 and
    // 128/256); replicate the column arithmetic and require near-full
    // coverage for every row of the q68 config
    for (j <- 0 until 4) {
      val mult = 2654435761L + j * 81006L
      assert(mult % 2 == 1, s"row $j multiplier is even: $mult")
      val cells = (0L until 10000L)
        .map(k => ((k * mult) % 4294967296L) % 256).toSet
      assert(cells.size > 250, s"row $j covers only ${cells.size}/256 cells")
    }
  }

  test("Profile.audit computes violation counts in long form") {
    val df = Seq(
      (Some(1L), Some("hello world"), "en"),
      (Some(1L), Some("dup id"), "de"),
      (Some(2L), Some("   "), "xx"),
      (None: Option[Long], None: Option[String], "en"))
      .toDF("doc_id", "text", "lang")
    val m = operators.Profile.audit(df,
      operators.Profile.documentMetrics("doc_id", "text", "lang", Seq("en", "de")))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(m("row_count") == 4.0 && m("id_nulls") == 1.0 && m("id_dupes") == 1.0)
    assert(m("text_nulls") == 1.0 && m("text_empty") == 1.0)
    assert(m("lang_invalid") == 1.0 && m("distinct_langs") == 3.0)
    assert(m("min_chars") == 3.0 && m("max_chars") == 11.0)
    assert(m("mean_chars") == ((11 + 6 + 3) / 3.0 * 1e6).round / 1e6)
  }

  test("semanticScores flags only corpus vectors cosine-close to the eval set") {
    // eval = x axis; corpus: aligned (cos 1), 45 deg (cos ~0.707), orthogonal
    val corpus = Seq(
      (1L, Array(1f, 0f, 0f)), (2L, Array(1f, 1f, 0f)), (3L, Array(0f, 1f, 0f)))
      .toDF("vec_id", "embedding")
    val ev = Seq((100L, Array(2f, 0f, 0f))).toDF("vec_id", "embedding")
    val out = operators.Decontaminate.semanticScores(corpus, ev, threshold = 0.7)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(_._1)
    assert(out.map(_._1).toSeq == Seq(1L, 2L))
    assert(out.forall(_._2 == 1L))
    assert(out(0)._3 == 1.0 && math.abs(out(1)._3 - 0.707107) < 1e-6)
  }

  test("Ranking.globalRunningAgg equals the single-task running window") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    // duplicate keys across partition boundaries: the exclusive prefix
    // must count ALL rows strictly before in the total order, ties
    // broken by the unique id column
    val rows = (1L to 400L).map(i => (i, rnd.nextInt(25).toLong))
    val df = rows.toDF("id", "v")
    val order = Seq(col("v"), col("id"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("v"), col("id"))
      .rowsBetween(Long.MinValue, -1)
    for ((op, wExpr) <- Seq(
        "sum" -> coalesce(sum(col("v")).over(w), lit(0L)),
        "max" -> coalesce(max(col("v")).over(w), lit(Long.MinValue)))) {
      val got = graft.operators.Ranking
        .globalRunningAgg(df, order, "v", op, "run", partitions = 7)
        .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
      val expected = df.withColumn("run", wExpr)
        .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
      assert(got == expected, s"op=$op diverged from the window form")
    }
    // empty input survives (no partitions, no offsets to misindex)
    assert(graft.operators.Ranking.globalRunningAgg(
      df.filter(lit(false)), order, "v", "sum").count() == 0L)
  }

  test("Ranking.skyline2d equals the quadratic dominance definition") {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    val pts = (1 to 300).map(_ => (rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
    val got = graft.operators.Ranking
      .skyline2d(pts.toDF("x", "y"), "x", "y")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val distinct = pts.toSet
    val expected = distinct.filter { case (x, y) =>
      !distinct.exists { case (qx, qy) =>
        qx <= x && qy >= y && (qx < x || qy > y) }
    }
    assert(got == expected)
  }

  test("Graph.bfsDistances finds minimum hop counts level by level") {
    import spark.implicits._
    // chain 1-2-3-4-5-6, triangle shortcut 1-3, island 10-11 (no seed)
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L),
      (1L, 3L), (10L, 11L)).toDF("src", "dst")
    val seeds = Seq(1L).toDF("v")
    val got = graft.operators.Graph.bfsDistances(edges, seeds, maxDepth = 3)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    // 3 is 1 hop via the shortcut, not 2 via the chain; 6 is 4 hops —
    // beyond the cap; the island is unreachable and absent
    assert(got == Map(1L -> 0, 2L -> 1, 3L -> 1, 4L -> 2, 5L -> 3))
    // a depth-0 run returns just the seed set
    val d0 = graft.operators.Graph.bfsDistances(edges, seeds, maxDepth = 0)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(d0 == Map(1L -> 0))
  }

  test("Stats.groupedMedianMad equals brute-force median/MAD/outliers") {
    import spark.implicits._
    val rnd = new scala.util.Random(43)
    // group a: even count; group b: odd; group c: single value + one
    // far outlier; heavy duplicate values throughout
    val rows = (1 to 200).map(_ => ("a", rnd.nextInt(30).toLong)) ++
      (1 to 151).map(_ => ("b", (rnd.nextInt(20) + 100).toLong)) ++
      Seq.fill(9)(("c", 7L)) :+ ("c", 1000L)
    def bruteMedian(xs: Seq[Double]): Double = {
      val s = xs.sorted
      (s((s.size - 1) / 2) + s(s.size / 2)) / 2.0
    }
    val got = graft.operators.Stats
      .groupedMedianMad(rows.toDF("g", "v"), "g", "v")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getLong(4))).toMap
    for ((g, xs) <- rows.groupBy(_._1)) {
      val vs = xs.map(_._2.toDouble)
      val med = bruteMedian(vs)
      val mad = bruteMedian(vs.map(x => math.abs(x - med)))
      val out = vs.count(x => math.abs(x - med) > 3 * mad)
      val (n, gm, gmad, gout) = got(g)
      assert(n == vs.size && gm == med && gmad == mad && gout == out,
        s"group $g: got ${got(g)}, brute ($med, $mad, $out)")
    }
  }

  test("Stats.groupedQuantiles equals brute-force type-7 interpolation") {
    import spark.implicits._
    val rnd = new scala.util.Random(47)
    // even, odd, and single-row groups; duplicates everywhere
    val rows = (1 to 100).map(_ => ("a", rnd.nextInt(15).toLong)) ++
      (1 to 77).map(_ => ("b", rnd.nextInt(500).toLong)) :+ ("c", 42L)
    val qs = Seq(1 -> 4, 2 -> 4, 3 -> 4, 0 -> 2, 2 -> 2, 5 -> 8)
    val got = graft.operators.Stats
      .groupedQuantiles(rows.toDF("g", "v"), "g", "v", qs)
      .collect().map(r => (r.getString(0), r.getDouble(1)) -> r.getDouble(2))
      .toMap
    for ((g, xs) <- rows.groupBy(_._1); (num, den) <- qs) {
      val s = xs.map(_._2).sorted
      val hNum = (s.size - 1).toLong * num
      val i = (hNum / den).toInt
      val frac = (hNum % den).toDouble / den
      val expected = s(i) + frac *
        (s(math.min(i + 1, s.size - 1)) - s(i))
      assert(got((g, num.toDouble / den)) == expected,
        s"$g q=$num/$den: ${got((g, num.toDouble / den))} vs $expected")
    }
    // NULLs are excluded (the quantile_cont convention): median of
    // [NULL, 1, 3] is 2, not the null-shifted 1
    val withNulls = Seq(("a", Some(1L)), ("a", None), ("a", Some(3L)))
      .toDF("g", "v")
    val med = graft.operators.Stats
      .groupedQuantiles(withNulls, "g", "v", Seq(1 -> 2))
      .collect().map(_.getDouble(2)).toSeq
    assert(med == Seq(2.0), med.toString)
    // an all-NULL group is NOT dropped: it surfaces with quantile NULL
    // (what GROUP BY g, quantile_cont(v) returns), for both variants
    val allNull = Seq(("a", Some(1L)), ("a", Some(3L)), ("b", None))
      .toDF("g", "v")
    for (res <- Seq(
        graft.operators.Stats.groupedQuantiles(allNull, "g", "v",
          Seq(1 -> 2)),
        graft.operators.Stats.groupedQuantilesDisc(allNull, "g", "v",
          Seq(1 -> 2)))) {
      val byG = res.collect().map(r => r.getString(0) -> r.isNullAt(2)).toMap
      assert(byG == Map("a" -> false, "b" -> true), byG.toString)
    }
    // discrete (type-1) variant: value at rank ceil(q*n), any fraction
    val qsD = Seq(1 -> 2, 9 -> 10, 99 -> 100, 1 -> 3)
    val gotD = graft.operators.Stats
      .groupedQuantilesDisc(rows.toDF("g", "v"), "g", "v", qsD)
      .collect().map(r => (r.getString(0), r.getDouble(1)) -> r.getLong(2))
      .toMap
    for ((g, xs) <- rows.groupBy(_._1); (num, den) <- qsD) {
      val s = xs.map(_._2).sorted
      val rank = ((s.size.toLong * num + den - 1) / den).toInt
      assert(gotD((g, num.toDouble / den)) == s(rank - 1),
        s"$g disc q=$num/$den")
    }
  }

  test("Evaluation.aucExact equals brute-force pair counting with ties") {
    import spark.implicits._
    val rnd = new scala.util.Random(31)
    // a weak signal with heavy ties: scores 0..9, positives skewed high
    val rows = (1 to 300).map { _ =>
      val pos = rnd.nextBoolean()
      val s = (rnd.nextInt(10) + (if (pos) rnd.nextInt(3) else 0)).toLong
      (s, pos)
    }
    val got = graft.operators.Evaluation
      .aucExact(rows.toDF("s", "pos"), "s", "pos").collect()(0)
    val posS = rows.filter(_._2).map(_._1)
    val negS = rows.filterNot(_._2).map(_._1)
    val pairs = for (p <- posS; n <- negS)
      yield if (p > n) 1.0 else if (p == n) 0.5 else 0.0
    val expected = pairs.sum / (posS.size.toLong * negS.size)
    assert(got.getLong(0) == posS.size && got.getLong(1) == negS.size)
    assert(math.abs(got.getDouble(2) - expected) < 1e-12,
      s"auc ${got.getDouble(2)} != brute $expected")
  }

  test("Evaluation.ksTwoSample equals the brute-force ECDF scan") {
    import spark.implicits._
    val rnd = new scala.util.Random(47)
    // shifted distributions with deliberate value collisions (ties
    // across groups exercise the shared-distinct-value ECDF points)
    val rows = (1 to 400).map { _ =>
      val a = rnd.nextBoolean()
      val v = (rnd.nextInt(40) + (if (a) 0 else 7)).toDouble
      (v, if (a) "A" else "B")
    }
    val got = graft.operators.Evaluation
      .ksTwoSample(rows.toDF("v", "g"), "v", "g", "A", "B").collect()(0)
    val as = rows.filter(_._2 == "A").map(_._1)
    val bs = rows.filter(_._2 == "B").map(_._1)
    val pts = rows.map(_._1).distinct
    val brute = pts.map { v =>
      math.abs(as.count(_ <= v).toDouble / as.size -
        bs.count(_ <= v).toDouble / bs.size)
    }.max
    assert(got.getLong(0) == as.size && got.getLong(1) == bs.size)
    assert(math.abs(got.getDouble(2) - brute) < 1e-6,
      s"ks ${got.getDouble(2)} != brute $brute")
    // identical samples -> KS = 0 exactly
    val same = (1 to 50).flatMap(i => Seq((i.toDouble, "A"), (i.toDouble, "B")))
    val z = graft.operators.Evaluation
      .ksTwoSample(same.toDF("v", "g"), "v", "g", "A", "B").collect()(0)
    assert(z.getDouble(2) == 0.0)
    // one empty group -> NULL (statistic undefined), not a NaN/crash
    val lone = graft.operators.Evaluation
      .ksTwoSample(same.toDF("v", "g"), "v", "g", "A", "MISSING").collect()(0)
    assert(lone.isNullAt(2))
  }

  test("TextAnalysis.knBigram equals brute-force Kneser-Ney") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the cat sat on the mat"),
      (2L, "the cat ate the fish"),
      (3L, "a dog sat on a log"),
      (4L, "the cat sat on the log")).toDF("doc_id", "text")
    val got = TextAnalysis.knBigram(docs, minCount = 2L, discount = 0.75)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    // brute force on the same corpus
    val bgs = Seq("the cat sat on the mat", "the cat ate the fish",
      "a dog sat on a log", "the cat sat on the log")
      .flatMap(s => { val t = s.split("\\s+"); t.init.zip(t.tail) })
    val c2 = bgs.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val c1 = bgs.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val nfollow = c2.keys.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val nprec = c2.keys.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val btypes = c2.size.toLong
    val expected = c2.filter(_._2 >= 2).map { case ((w1, w2), c) =>
      (w1, w2) -> ((c, BigDecimal((c - 0.75) / c1(w1) +
        0.75 * nfollow(w1) / c1(w1) * (nprec(w2).toDouble / btypes))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))
    }
    assert(got.keySet == expected.keySet, s"bigram sets differ: $got")
    expected.foreach { case (k, (c, p)) =>
      assert(got(k)._1 == c, s"$k count")
      assert(math.abs(got(k)._2 - p) < 1e-9, s"$k pkn ${got(k)._2} != $p")
    }
    // probability sanity: every smoothed probability in (0, 1]
    got.values.foreach { case (_, p) => assert(p > 0 && p <= 1) }
  }

  test("webpHeader round-trips both fixture variants and rejects junk") {
    import org.scalacheck.Gen
    val dims = Gen.zip(Gen.choose(1, 16383), Gen.choose(1, 16383))
    (1 to 40).foreach { i =>
      val (w, h) = dims(Gen.Parameters.default,
        org.scalacheck.rng.Seed(i.toLong)).getOrElse((7, 9))
      assert(operators.Multimodal.webpHeader(
        operators.Multimodal.encodeWebpVp8x(w, h)) == Some(("VP8X", w, h)))
      assert(operators.Multimodal.webpHeader(
        operators.Multimodal.encodeWebpVp8l(w, h)) == Some(("VP8L", w, h)))
    }
    // VP8X 24-bit canvas beyond VP8L's 14-bit range
    assert(operators.Multimodal.webpHeader(
      operators.Multimodal.encodeWebpVp8x(1 << 20, 3)) ==
      Some(("VP8X", 1 << 20, 3)))
    assert(operators.Multimodal.webpHeader("RIFFxxxxWAVE".getBytes)
      .isEmpty) // RIFF but not WebP
    assert(operators.Multimodal.webpHeader(
      operators.Multimodal.encodeWebpVp8x(5, 5).take(20)).isEmpty)
    assert(operators.Multimodal.webpHeader(Array[Byte]()).isEmpty)
  }

  test("flacHeader round-trips STREAMINFO and rejects junk") {
    for (rate <- Seq(8000, 44100, 96000, 655349); ch <- Seq(1, 2, 8);
         bps <- Seq(8, 16, 24, 32);
         total <- Seq(0L, 1L, 44100L, (1L << 36) - 1)) {
      assert(operators.Multimodal.flacHeader(
        operators.Multimodal.encodeFlac(rate, ch, bps, total)) ==
        Some((rate, ch, bps, total)), s"flac $rate/$ch/$bps/$total")
    }
    val good = operators.Multimodal.encodeFlac(44100, 2, 16, 1000L)
    assert(operators.Multimodal.flacHeader(good.take(30)).isEmpty)
    val notStreaminfo = good.clone(); notStreaminfo(4) = 0x84.toByte
    assert(operators.Multimodal.flacHeader(notStreaminfo).isEmpty)
    assert(operators.Multimodal.flacHeader("fLaX".getBytes ++
      new Array[Byte](40)).isEmpty)
  }

  test("flacMetaBlocks rejects crafted negative interior lengths") {
    val M = operators.Multimodal
    val good = M.encodeFlacMeta(44100, 2, 16, 1000L, "vend",
      Seq("TITLE" -> "t"), Seq((0L, 0L, 100)))
    assert(M.flacMetaBlocks(good).isDefined) // sanity: fixture parses
    // VORBIS_COMMENT interior starts at 46 (4 magic + 4+34 STREAMINFO
    // + 4 block header); its first le32 is the vendor length. 2^32-1
    // reads as -1 through .toInt and must reject, not crash in
    // new String (ADVICE r8)
    val badVendor = good.clone()
    (46 until 50).foreach(i => badVendor(i) = 0xFF.toByte)
    assert(M.flacMetaBlocks(badVendor).isEmpty)
    // same for a comment length: vendor "vend" = 4 bytes, so the
    // comment count le32 is at 54, first comment length at 58
    val badComment = good.clone()
    (58 until 62).foreach(i => badComment(i) = 0xFF.toByte)
    assert(M.flacMetaBlocks(badComment).isEmpty)
  }

  test("jpegHeader round-trips SOF+EXIF and rejects junk") {
    val M = operators.Multimodal
    for (w <- Seq(1, 480, 65535); h <- Seq(1, 360, 65535);
         o <- 1 to 8; prog <- Seq(false, true); le <- Seq(false, true)) {
      assert(M.jpegHeader(M.encodeJpegExif(w, h, o, prog, le)) ==
        Some((w, h, 3, prog, o)), s"jpeg $w x $h o=$o prog=$prog le=$le")
    }
    val good = M.encodeJpegExif(640, 480, 6, progressive = false,
      exifLe = true)
    // no EXIF: splice the APP1 out -> default orientation 1
    val app1Len = 2 + 6 + 26
    val noExif = good.take(2) ++ good.drop(2 + 2 + app1Len)
    assert(M.jpegHeader(noExif) == Some((640, 480, 3, false, 1)))
    // truncated mid-segment, non-JPEG magic, EOI-before-SOF
    assert(M.jpegHeader(good.take(20)).isEmpty)
    assert(M.jpegHeader("notajpeg".getBytes).isEmpty)
    assert(M.jpegHeader(Array(0xFF, 0xD8, 0xFF, 0xD9).map(_.toByte))
      .isEmpty)
    // corrupt EXIF magic degrades to default orientation, not a reject
    val badTiff = good.clone(); badTiff(13) = 'X'
    assert(M.jpegHeader(badTiff) == Some((640, 480, 3, false, 1)))
  }
}
