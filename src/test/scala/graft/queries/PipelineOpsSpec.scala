package graft.queries

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Intent tests for the round-10 pipeline operators (d15/d16/p11) on
  * planted fixtures. The oracle gate proves cross-engine agreement on
  * the shared formulation; these prove the formulation computes the
  * thing it claims to: d15 separates CONTIGUOUS duplicated spans from
  * scattered shared shingles, d16 drops only within-cell semantic
  * near-dups (min-id-wins) after exact collapse, and p11's integer
  * HyperLogLog lands inside its error envelope.
  */
class PipelineOpsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("pipeline-ops-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.functions.VectorFunctions.register(
      spark.sessionState.functionRegistry)
    graft.functions.TextHashFunctions.register(
      spark.sessionState.functionRegistry)
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("d15: contiguous duplicated block vs scattered shared shingles") {
    val sp = spark; import sp.implicits._
    val block = (1 to 12).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      // 12-word block shared verbatim -> run of 10 shingles, span 12
      (1L, s"u1a u1b $block u1c u1d", "en"),
      (2L, s"u2a u2b $block u2c", "en"),
      // two scattered 3-word overlaps -> runs of 1 shingle, span 3
      (3L, "x1 x2 s1 s2 s3 x3 x4 x5 s4 s5 s6 x6 x7", "en"),
      (4L, "y1 y2 s1 s2 s3 y3 y4 y5 s4 s5 s6 y6 y7", "en"),
      // nothing shared -> span 0
      (5L, "z1 z2 z3 z4 z5 z6 z7 z8", "en"))
    docs.toDF("doc_id", "text", "lang").createOrReplaceTempView("documents")

    val got = ExtQueries.TestSql.dupSpan(spark)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    // bucket 0: docs 3,4 (span 3) + doc 5 (span 0); bucket 1: docs 1,2
    assert(got == Set(("en", 0L, 3L, 3L), ("en", 1L, 2L, 12L)))
  }

  test("d16: exact collapse + within-cell min-id-wins drop") {
    val sp = spark; import sp.implicits._
    def vec(pairs: (Int, Float)*): Array[Float] = {
      val a = Array.fill(64)(0.0f)
      pairs.foreach { case (i, v) => a(i) = v }
      a
    }
    val a = vec(0 -> 1.0f)                      // cell 0 anchor
    val b = vec(0 -> 1.0f, 1 -> 0.1f)           // cos(a,b) ~ 0.995 -> dropped
    val c = vec(0 -> 0.3f, 2 -> 0.954f)         // cos(a,c) = 0.3 -> kept
    val e2 = vec(3 -> 1.0f)                     // cell 1 anchor
    val d2 = vec(3 -> 0.3f, 4 -> 0.954f)        // cos(e2,d2) = 0.3 -> kept
    val vecs = Seq(
      (10L, a, 0), (11L, b, 0), (12L, c, 0),
      (20L, e2, 1), (21L, d2, 1),
      (99L, a, 0)) // exact duplicate of a -> collapses into rep 10
    vecs.toDF("vec_id", "embedding", "label")
      .createOrReplaceTempView("embeddings")

    val got = ExtQueries.TestSql.semanticDedup(spark)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    // cell 0: reps {10,11,12}, 11 dropped by 10, members 4 (99 collapsed)
    // cell 1: reps {20,21}, nothing within tau
    assert(got == Set((0, 3L, 1L, 4L), (1, 2L, 0L, 2L)))
  }

  test("p20: a corpus that exhausts its merges before round 3 keeps " +
    "EVERY document in the shard relation") {
    val sp = spark; import sp.implicits._
    // Vocabulary = the single word "ab": round 1 merges a+b, leaving
    // every sequence a single symbol — rounds 2 and 3 have NO pairs
    // and their merge relations are EMPTY. A cross join against an
    // empty merge relation would silently drop every document (and
    // the oracle, sharing the text, would agree — invisible to the
    // gate). The 1-row MAX wrapper must keep all docs, each with its
    // 1-token array.
    val docs = (1L to 40L).map(i => (i, "ab ab", "en"))
    docs.toDF("doc_id", "text", "lang").createOrReplaceTempView("documents")
    val rel = ExtQueries.TestSql.p20ShardRelation(spark)
    val rows = rel.selectExpr("doc_id", "btoks", "size(toks) AS n").collect()
    assert(rows.length == 40, s"docs dropped: ${rows.length} of 40")
    rows.foreach { r =>
      assert(r.getLong(1) == 2L && r.getInt(2) == 2,
        s"expected 2 merged tokens per doc: $r")
    }
  }

  test("d20: exact collapse + within-LEARNED-cell min-id-wins drop") {
    val sp = spark; import sp.implicits._
    def vec(pairs: (Int, Float)*): Array[Float] = {
      val a = Array.fill(64)(0.0f)
      pairs.foreach { case (i, v) => a(i) = v }
      a
    }
    // Roles by the training chain's own seed hash (the v19 fixture
    // discipline): the 8 hash-smallest present ids become the learned
    // cells' seeds; later members join by argmax cosine.
    val pool = (1L to 40L).sortBy(id =>
      (ExtQueries.TestSql.kmeansSeedHash(id), id))
    val seeds = pool.take(8)
    val sA = seeds.head                 // axis-0 seed: the probed cell
    val mDup = pool(8)                  // 9th hash: never a seed
    val Seq(m1, m2) = pool.takeRight(2) // in-cell members
    val vecs =
      seeds.zipWithIndex.map { case (id, ax) => (id, vec(ax -> 1.0f)) } ++
        Seq(
          mDup -> vec(0 -> 1.0f),            // exact dup of the axis-0 vector
          m1 -> vec(0 -> 1.0f, 1 -> 0.1f),   // cos ~0.995 vs axis-0 -> dropped
          m2 -> vec(0 -> 0.3f, 20 -> 0.954f)) // cos 0.3 -> same cell, kept
    vecs.map { case (id, v) => (id, v, 0) }
      .toDF("vec_id", "embedding", "label")
      .createOrReplaceTempView("embeddings")
    val got = ExtQueries.TestSql.semanticDedupLearned(spark)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    // cell sA: reps {min(sA,mDup) [the collapsed axis-0 rep], m1, m2},
    // the near-dup pair drops its larger id, members 4; every other
    // seed cell holds exactly its own seed
    val expected = Set((sA, 3L, 1L, 4L)) ++
      seeds.tail.map(s => (s, 1L, 0L, 1L))
    assert(got == expected, s"got $got\nexpected $expected")
  }

  test("p11: HLL estimate inside the error envelope, exact below it") {
    val sp = spark; import sp.implicits._
    val events =
      (1L to 1000L).map(u => ("x", u)) ++       // 1000 distinct users
        (1L to 1000L).map(u => ("x", u)) ++     // duplicates change nothing
        (1L to 8L).map(u => ("y", u))           // small group
    events.toDF("event_type", "user_id").createOrReplaceTempView("events")

    val got = spark.sql(ExtQueries.TestSql.hll)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    assert(got("x")._1 == 1000L)
    // raw HLL estimator, m=64: sigma ~ 13%; accept 3 sigma
    assert(got("x")._2 > 600L && got("x")._2 < 1500L,
      s"estimate ${got("x")._2} outside envelope")
    assert(got("y")._1 == 8L)
    // tiny cardinalities under-estimate without linear counting; just
    // pin determinism and positivity here
    assert(got("y")._2 > 0L)
  }

  test("p12: temperature reweighting upsamples the low-resource language") {
    val sp = spark; import sp.implicits._
    // lang A: 4 docs x 100 tokens = 400; lang B: 1 doc x 100 = 100.
    // raw shares 4/5 vs 1/5; sqrt weights 20 vs 10 -> quotas 2/3 vs 1/3.
    val doc100 = (1 to 100).map(i => s"w$i").mkString(" ")
    val docs = (1L to 4L).map(i => (i, doc100, "A")) :+ ((9L, doc100, "B"))
    docs.toDF("doc_id", "text", "lang").createOrReplaceTempView("documents")
    val got = spark.sql(ExtQueries.TestSql.mixTemperature)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    assert(got("A")._2 == 20L && got("B")._2 == 10L, got.toString)
    assert(got("A")._1 == 20000L * 20 / 30 && got("B")._1 == 20000L * 10 / 30)
    // the whole point: B's quota share (1/3) far exceeds its raw share (1/5)
    assert(got("B")._1 * 5 > 20000L)
  }

  test("t12: planted corpus yields the known top merge pair") {
    val sp = spark; import sp.implicits._
    // "ababab" contributes pairs ab x3, ba x2 per occurrence; "cd" adds cd.
    val docs = Seq(
      (1L, "ababab ababab cd", "en"),
      (2L, "ababab cd cd", "en"))
    docs.toDF("doc_id", "text", "lang").createOrReplaceTempView("documents")
    val got = spark.sql(ExtQueries.TestSql.bpePairs)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    // 3 occurrences of "ababab": ab = 3 each = 9; ba = 2 each = 6; cd = 3
    assert(got.take(2).toSeq == Seq(("ab", 9L, 1L), ("ba", 6L, 1L)),
      got.mkString(", "))
    assert(got.contains(("cd", 3L, 1L)))
  }

  test("v08: float re-rank orders candidates the int8 stage cannot split") {
    val sp = spark; import sp.implicits._
    def vec(pairs: (Int, Float)*): Array[Float] = {
      val a = Array.fill(64)(0.0f)
      pairs.foreach { case (i, v) => a(i) = v }
      a
    }
    // query 0 = e1. Candidates 10/11 differ only in the 8th decimal of
    // a second dimension: int8 quantization maps both to the same
    // codes (identical cos8 -> shortlist order falls to the id
    // tiebreak), but the float stage must put 11 (the closer one) first.
    val q = vec(0 -> 1.0f)
    val c10 = vec(0 -> 1.0f, 1 -> 0.0101f)
    val c11 = vec(0 -> 1.0f, 1 -> 0.0100f)
    val far = vec(2 -> 1.0f)
    Seq((0L, q, 0), (10L, c10, 0), (11L, c11, 0), (20L, far, 0))
      .toDF("vec_id", "embedding", "label")
      .createOrReplaceTempView("embeddings")
    val got = spark.sql(ExtQueries.TestSql.knnRerank)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    // int8: floor(127*0.0101/1)=1 and floor(127*0.0100/1)=1 — identical
    // codes; only the exact float cosine can rank 11 above 10
    assert(got.take(2) == Seq((0L, 11L), (0L, 10L)), got.mkString(", "))
  }

  test("p11: registers merge by register-wise MAX across shards") {
    val sp = spark; import sp.implicits._
    val events = (1L to 2000L).map(u => ("x", u))
    events.toDF("event_type", "user_id").createOrReplaceTempView("ev_all")
    // shard split that partitions the users (any disjoint cover works)
    spark.sql("SELECT * FROM ev_all WHERE user_id % 2 = 0")
      .createOrReplaceTempView("ev_a")
    spark.sql("SELECT * FROM ev_all WHERE user_id % 2 = 1")
      .createOrReplaceTempView("ev_b")

    val whole = spark.sql(ExtQueries.TestSql.hllRegisters("ev_all"))
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getInt(2))
      .toMap
    val merged = spark.sql(
      s"""SELECT event_type, bucket, MAX(mj) AS mj FROM (
         |  ${ExtQueries.TestSql.hllRegisters("ev_a")}
         |  UNION ALL
         |  ${ExtQueries.TestSql.hllRegisters("ev_b")}) u
         |GROUP BY event_type, bucket""".stripMargin)
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getInt(2))
      .toMap
    assert(whole == merged)
    // and the estimate readout over merged registers equals the whole's
    spark.sql(ExtQueries.TestSql.hllRegisters("ev_all"))
      .createOrReplaceTempView("regs_whole")
    spark.sql(
      s"""SELECT event_type, bucket, MAX(mj) AS mj FROM (
         |  ${ExtQueries.TestSql.hllRegisters("ev_a")}
         |  UNION ALL
         |  ${ExtQueries.TestSql.hllRegisters("ev_b")}) u
         |GROUP BY event_type, bucket""".stripMargin)
      .createOrReplaceTempView("regs_merged")
    val eW = spark.sql(ExtQueries.TestSql.hllEstimate("regs_whole"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val eM = spark.sql(ExtQueries.TestSql.hllEstimate("regs_merged"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(eW == eM)
  }

  test("d18: aligned duplicated lines removed everywhere; misaligned kept") {
    val sp = spark; import sp.implicits._
    val line = (1 to 10).map(i => s"l$i").mkString(" ")
    def uniq(p: String, n: Int) = (1 to n).map(i => s"$p$i").mkString(" ")
    val docs = Seq(
      // shared line at aligned offsets 0, 0, and 10 -> removed in all 3
      (1L, s"$line ${uniq("a", 10)}", "en"),
      (2L, s"$line ${uniq("b", 10)}", "en"),
      (3L, s"${uniq("c", 10)} $line", "en"),
      // nothing shared -> bucket 0, nothing removed
      (4L, uniq("d", 8), "en"),
      // the same line at a MISALIGNED offset (1) -> its windows differ,
      // nothing removed: the fixed-window contract (d15's shingle spans
      // are the alignment-free signal)
      (5L, s"e0 $line", "en"))
    docs.toDF("doc_id", "text", "lang").createOrReplaceTempView("documents")

    val got = ExtQueries.TestSql.lineDedup(spark)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    // docs 1-3: 2 segments, 1 removed -> 500 per-mille -> bucket 4
    // docs 4-5: bucket 0 (doc 4: 1 seg; doc 5: 2 segs), nothing removed
    assert(got.map(t => (t._1, t._2, t._3, t._4, t._5)) ==
      Set(("en", 4L, 3L, 6L, 3L), ("en", 0L, 2L, 3L, 0L)))
  }

  test("t13: blocklist beats quality; low-quality floor is corpus-relative") {
    val sp = spark; import sp.implicits._
    val stopRich = "the of and to in a is that for it" // 10/10 stopwords
    val stopFree = "x1 x2 x3 x4 x5 x6 x7 x8 x9 x10"    // 0/10
    // 'src4' polyhashes to 0 mod 10 -> blocklisted regardless of quality
    val docs = Seq(
      (1L, stopRich, "good"), (2L, stopRich, "good"),
      (3L, stopFree, "bad"),
      (4L, stopRich, "src4"))
    docs.toDF("doc_id", "text", "source").createOrReplaceTempView("documents")

    val got = spark.sql(ExtQueries.TestSql.domainFilter)
      .collect().map(r => r.getString(0) -> r.getString(4)).toMap
    // corpus mean stop-milli = (1000+1000+0+1000)/4 = 750; floor = 600
    assert(got == Map("good" -> "keep", "bad" -> "low_quality",
      "src4" -> "blocklist"))
  }

  test("p13: split shares and the exact membership checksum") {
    val sp = spark; import sp.implicits._
    val P = 2147483647L
    val n = 2000
    (0 until n).map(i => (i.toLong, "a b c", "en"))
      .toDF("doc_id", "text", "lang").createOrReplaceTempView("documents")

    val got = spark.sql(ExtQueries.TestSql.trainSplit)
      .collect().map(r => (r.getString(0), r.getLong(2), r.getLong(4)))
    val counts = got.groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    assert(counts.values.sum == n)
    assert(counts("train") > n * 95 / 100 && counts("train") < n)
    assert(counts.getOrElse("val", 0L) > 0 && counts.getOrElse("test", 0L) > 0)
    // recompute the membership checksum exactly
    def pm(id: Long) = ((id % P) * 2654435761L) % P % 1000
    val expect = (0 until n).map(_.toLong).groupBy { id =>
      val p = pm(id)
      if (p < 980) "train" else if (p < 990) "val" else "test"
    }.view.mapValues(ids =>
      ids.map(id => ((id % P) * (pm(id) + 1)) % P).sum % P).toMap
    val gotSum = got.groupBy(_._1).view
      .mapValues(_.map(_._3).sum % P).toMap
    assert(gotSum == expect)
  }

  test("t14: scrambled word order scores below fluent order (what t09 can't see)") {
    val sp = spark; import sp.implicits._
    // 10 docs share the transition chain a->b->c->d->e; one doc carries
    // the SAME WORDS reversed. A unigram model (t09) scores both
    // identically; the bigram conditionals punish the rare transitions.
    val docs = (1L to 10L).map(i => (i, "a b c d e")) :+ (99L, "e d c b a")
    docs.toDF("doc_id", "text").createOrReplaceTempView("documents")
    val got = ExtQueries.TestSql.bigram(spark)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got.values.forall(_._2 == 4L)) // every doc has 4 bigrams
    val scrambled = got(99L)._1
    val fluent = (1L to 10L).map(got(_)._1).distinct
    assert(fluent.size == 1) // identical docs, identical scores
    assert(scrambled < fluent.head,
      s"scrambled $scrambled should score below fluent ${fluent.head}")
  }

  test("t15: target-resembling doc outscores gibberish under the importance ratio") {
    val sp = spark; import sp.implicits._
    // target domain src0 is all about one phrase; outside it, doc 50
    // repeats the target's bigrams while doc 60 is word soup none of
    // whose bigrams occur in the target. The likelihood ratio must
    // rank 50 above 60 (that separation IS the DSIR selection signal).
    val docs =
      (1L to 8L).map(i => (i, "the quick brown fox jumps over it", "en", "src0")) ++
        Seq((50L, "the quick brown fox jumps again", "en", "src9"),
          (60L, "zq xv wk jj pf qg lm", "en", "src9"))
    docs.toDF("doc_id", "text", "lang", "source")
      .createOrReplaceTempView("documents")
    val got = spark.sql(ExtQueries.TestSql.dsir)
      .collect().map(r => r.getLong(1) -> r.getLong(2)).toMap
    assert(got.contains(50L) && got.contains(60L)) // 10 docs -> all selected
    assert(got(50L) > got(60L),
      s"target-like ${got(50L)} should outscore gibberish ${got(60L)}")
    assert(got(1L) >= got(50L)) // in-target docs score at least as high
  }

  test("v13: a doc both retrievers surface out-fuses single-retriever docs") {
    val sp = spark; import sp.implicits._
    // corpus of 40 docs; query doc 0. Doc 21 shares doc 0's words AND
    // its exact embedding (both retrievers rank it); doc 22 shares only
    // words (lexical-only); doc 23 shares only the embedding
    // (vector-only). RRF must place 21 first: two rank sources beat one.
    def vec(seed: Int): Seq[Float] =
      (0 until 64).map(i => (((seed * 37 + i * 13) % 19) - 9) / 9.0f)
    val qv = vec(1)
    val texts = (0L until 40L).map {
      case 0L  => (0L, "alpha beta gamma delta epsilon zeta")
      case 21L => (21L, "alpha beta gamma delta shared words")
      case 22L => (22L, "alpha beta gamma delta epsilon other")
      case 23L => (23L, "completely unrelated vocabulary here")
      case i   => (i, s"filler${i} nothing${i} common${i}")
    }
    texts.toDF("doc_id", "text").createOrReplaceTempView("documents")
    (0L until 40L).map {
      case 0L  => (0L, qv, 0)
      case 21L => (21L, qv, 1)
      case 23L => (23L, qv, 2)
      case i   => (i, vec(100 + i.toInt), (i % 10).toInt)
    }.toDF("vec_id", "embedding", "label")
      .createOrReplaceTempView("embeddings")
    def l(r: org.apache.spark.sql.Row, i: Int): Long =
      r.get(i).asInstanceOf[Number].longValue
    val got = ExtQueries.TestSql.hybridBm25Vec(spark)
      .filter("qid = 0").collect()
      .map(r => l(r, 1) -> (l(r, 2), l(r, 3), l(r, 4), l(r, 5))).toMap
    assert(got.contains(21L) && got(21L)._3 > 0 && got(21L)._4 > 0,
      s"doc 21 must carry both retriever ranks: $got")
    assert(got(21L)._1 == 1L, s"doc 21 should fuse first: $got")
    Seq(22L, 23L).filter(got.contains).foreach { d =>
      assert(got(21L)._2 > got(d)._2,
        s"two-source RRF ${got(21L)._2} must beat single-source ${got(d)._2}")
    }
  }

  test("p17: epochs tile easy-to-hard; every doc lands in exactly one epoch") {
    val sp = spark; import sp.implicits._
    // 4 docs of globally common words (every word appears 4+ times)
    // and 4 docs of singleton rare words: distinct easiness levels, so
    // the NTILE(4) boundaries are unambiguous (2 docs per epoch).
    val docs = Seq(
      (1L, "alpha beta alpha beta"), (2L, "alpha beta alpha beta"),
      (3L, "alpha beta gamma gamma"), (4L, "alpha gamma delta delta"),
      (5L, "r1 r2 r3 alpha"), (6L, "r4 r5 r6 beta"),
      (7L, "r7 r8 r9 r10"), (8L, "r11 r12 r13 r14"))
    docs.toDF("doc_id", "text").createOrReplaceTempView("documents")
    val got = spark.sql(ExtQueries.TestSql.curriculum)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(got.keySet == Set(1L, 2L, 3L, 4L))
    assert(got.values.map(_._1).sum == 8L) // partition of the corpus
    // easiness is non-increasing across epoch boundaries
    (1L to 3L).foreach { e =>
      assert(got(e)._2 >= got(e + 1)._3,
        s"epoch $e min ${got(e)._2} < epoch ${e + 1} max ${got(e + 1)._3}")
    }

    // non-divisible n exercises the closed-form NTILE split: 10 docs
    // over 4 epochs must tile 3/3/2/2 (the first n%4 tiles get the
    // extra row), pinning the decomposed global-rank formula
    val more = docs ++ Seq((9L, "s1 s2 s3 s4"), (10L, "s5 s6 s7 s8"))
    more.toDF("doc_id", "text").createOrReplaceTempView("documents")
    val sizes = spark.sql(ExtQueries.TestSql.curriculum)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sizes == Map(1L -> 3L, 2L -> 3L, 3L -> 2L, 4L -> 2L), s"$sizes")
  }

  test("p18: planted cross-split duplicate is found (no false negative)") {
    val sp = spark; import sp.implicits._
    val P = 2147483647L
    def pm(id: Long): Long = ((id % P) * 2654435761L) % P % 1000
    // pick real split members by the query's own hash rule
    val trainIds = (0L to 400L).filter(pm(_) < 980)
    val testIds = (0L to 400L).filter(pm(_) >= 990)
    assert(trainIds.size >= 3 && testIds.size >= 2)
    // test doc testIds(0) duplicates a train doc; testIds(1) is unique
    val docs =
      trainIds.take(3).map(i => (i, s"train only text $i")) ++
        Seq((trainIds(3), "shared corpus document"),
          (testIds(0), "shared corpus document"),
          (testIds(1), "unique test document"))
    docs.toDF("doc_id", "text").createOrReplaceTempView("documents")
    val r = spark.sql(ExtQueries.TestSql.bloom).collect().head
    val (nTest, nMember, nMaybe, nMissed) =
      (r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(7))
    assert(nTest == 2 && nMember == 1)
    assert(nMissed == 0, "bloom must never miss a true member")
    assert(nMaybe >= 1) // the member is at least a maybe
  }

  test("p14: planted exact and near leakage from train into test is reported") {
    val sp = spark; import sp.implicits._
    // ids 0..19 are train under the split hash; 132/163/326 are test
    val trainText = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    // 10 words, 8 shingles, 6 of them inside the shared 8-word prefix
    // -> 75% overlap, over the 50% flag line
    val halfText = "alpha beta gamma delta epsilon zeta eta theta nu xi"
    val cleanText = "uno dos tres cuatro cinco seis siete ocho nueve diez"
    val docs =
      (0L until 20L).map(i => (i, trainText, "en")) ++ Seq(
        (132L, trainText, "en"), // exact leak: train doc verbatim in test
        (163L, halfText, "en"),  // near leak: shares the leading shingles
        (326L, cleanText, "en")) // clean test doc
    docs.toDF("doc_id", "text", "lang").createOrReplaceTempView("documents")

    val got = spark.sql(ExtQueries.TestSql.splitLeakage)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toList
    assert(got.size == 1)
    val (_, nTest, nExact, overlapMilli, nFlagged) = got.head
    assert(nTest == 3L)
    assert(nExact == 1L)       // only the verbatim copy
    // the verbatim doc overlaps fully, halfText partially, clean not at
    // all; the corpus-level per-mille lands strictly between 0 and 1000
    assert(overlapMilli > 0L && overlapMilli < 1000L, s"milli $overlapMilli")
    assert(nFlagged == 2L,     // verbatim + the >=50% sharer
      s"flagged $nFlagged")
  }

  test("d19: planted contiguous block removed from both carriers; scattered shingles kept") {
    val sp = spark; import sp.implicits._
    // A and B share a contiguous 10-word block (>= the 8-word removal
    // threshold): the block is cut from BOTH docs, their own words
    // survive. C and D share two isolated 3-word shingles (each a
    // 1-shingle run, span 3 < 8): nothing is removed. E is unique.
    // One lang per doc so the histogram keys per-doc outcomes.
    val block = "q1 q2 q3 q4 q5 q6 q7 q8 q9 q0"
    val docs = Seq(
      (1L, s"aa bb $block cc", "A"),              // 13 words, 10 cut
      (2L, s"$block zz ww", "B"),                 // 12 words, 10 cut
      (3L, "x1 x2 cm1 cm2 cm3 x3 x4 cm4 cm5 cm6 x5", "C"), // 11, 0 cut
      (4L, "y1 cm1 cm2 cm3 y2 y3 cm4 cm5 cm6 y4", "D"),    // 10, 0 cut
      (5L, "e1 e2 e3 e4 e5 e6", "E"))             // 6, 0 cut
    docs.toDF("doc_id", "text", "lang").createOrReplaceTempView("documents")
    val got = ExtQueries.TestSql.spanRemoval(spark)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    // (bucket, n_docs, words_total, words_removed)
    assert(got("A") == ((6L, 1L, 13L, 10L)), s"A: ${got("A")}") // 769‰→oct 6
    assert(got("B") == ((6L, 1L, 12L, 10L)), s"B: ${got("B")}") // 833‰→oct 6
    assert(got("C") == ((0L, 1L, 11L, 0L)), s"C: ${got("C")}")
    assert(got("D") == ((0L, 1L, 10L, 0L)), s"D: ${got("D")}")
    assert(got("E") == ((0L, 1L, 6L, 0L)), s"E: ${got("E")}")
  }

  test("p15: first-reason-wins verdicts across text, image, and vector dups") {
    val sp = spark; import sp.implicits._
    val texts = Map(
      0L -> "zero doc words here", 1L -> "shared text body",
      2L -> "shared text body", // text dup of 1 (and image dup of 9)
      3L -> "three doc words", 4L -> "four doc words",
      5L -> "five doc words", 6L -> "six doc words",
      7L -> "seven doc words", 8L -> "eight doc words",
      9L -> "nine doc words")
    texts.toSeq.map { case (i, t) => (i, t, "en") }
      .toDF("doc_id", "text", "lang").createOrReplaceTempView("documents")
    def vec(seed: Int) = Array.tabulate(64)(j => (seed * 31 + j) / 100.0f)
    // docs 3 and 4 share a vector -> 4 is a vector dup
    Seq(0L -> vec(0), 1L -> vec(1), 2L -> vec(2), 3L -> vec(9),
      4L -> vec(9), 5L -> vec(5), 6L -> vec(6), 7L -> vec(7),
      8L -> vec(8), 9L -> vec(10))
      .toDF("vec_id", "embedding").createOrReplaceTempView("embeddings")
    // docs 5 and 6 share an image -> 6 is an image dup; doc 2 shares an
    // image with doc 9 but is ALSO a text dup -> precedence says text
    val img = Map(2L -> 9L, 6L -> 5L) // alias -> canonical planted image
    val payloads = texts.keys.toSeq.sorted
      .map(i => (i, ExtQueries.TestSql.plantedImage(img.getOrElse(i, i))))
      .toDF("doc_id", "payload")

    val got = ExtQueries.TestSql.multimodalCurate(spark, payloads)
      .collect().map(r => (r.getString(1), r.getLong(2))).toMap
    assert(got == Map("keep" -> 7L, "text_dup" -> 1L,
      "image_dup" -> 1L, "vector_dup" -> 1L), s"verdicts: $got")
  }

  test("p15: unparseable images stay in the survivor chain (NULL pdigest sentinel)") {
    val sp = spark; import sp.implicits._
    // Two docs whose payloads fail the PGM parse but which SHARE an
    // embedding: a NULL image digest must not drop them from the
    // survivor chain (the ik/s2 stages inner-join on pdigest) — with
    // the per-doc-unique sentinel each is unique-by-construction in the
    // image stage, and the VECTOR election still sees both, so exactly
    // one survives and the other is a vector_dup. Before the sentinel,
    // both silently vanished from s2/vk and both reported 'keep'.
    Seq((0L, "zero unique words", "en"), (1L, "one unique words", "en"),
      (2L, "two unique words", "en"))
      .toDF("doc_id", "text", "lang").createOrReplaceTempView("documents")
    def vec(seed: Int) = Array.tabulate(64)(j => (seed * 31 + j) / 100.0f)
    Seq(0L -> vec(7), 1L -> vec(7), 2L -> vec(3)) // 0 and 1 share a vector
      .toDF("vec_id", "embedding").createOrReplaceTempView("embeddings")
    val garbage = Array[Byte]('n', 'o', 't', 'p', 'g', 'm')
    val payloads = Seq(
      (0L, garbage), (1L, garbage), // unparseable, byte-identical even
      (2L, ExtQueries.TestSql.plantedImage(2L)))
      .toDF("doc_id", "payload")
    val got = ExtQueries.TestSql.multimodalCurate(spark, payloads)
      .collect().map(r => (r.getString(1), r.getLong(2))).toMap
    assert(got == Map("keep" -> 2L, "vector_dup" -> 1L), s"verdicts: $got")
  }

  test("p16: staged elections through all five modalities, upstream drops never steal") {
    val sp = spark; import sp.implicits._
    import graft.multimodal.MultimodalOps
    // One lang per doc so the per-(lang, verdict) rollup keys per-doc
    // outcomes. Planted dup pairs per modality, plus the two staged
    // cases: 11 shares an embedding with keeper 5 (vector_dup) AND
    // audio with 12 — the dropped 11 must NOT win that audio election,
    // so 12 keeps; 13 shares audio with keeper 7 (audio_dup) AND video
    // with 14 — 14 must keep.
    val audOf = Map(8L -> 7L, 12L -> 11L, 13L -> 7L)
    val vidOf = Map(10L -> 9L, 14L -> 13L)
    val embOf = Map(6L -> 5L, 11L -> 5L)
    val imgOf = Map(4L -> 3L)
    val txtOf = Map(2L -> 1L)
    val ids = (0L to 14L)
    ids.map(i => (i, s"text ${txtOf.getOrElse(i, i)} words", s"L$i"))
      .toDF("doc_id", "text", "lang").createOrReplaceTempView("documents")
    def vec(seed: Long) = Array.tabulate(64)(j => (seed * 31 + j) / 100.0f)
    ids.map(i => (i, vec(100 + embOf.getOrElse(i, i))))
      .toDF("vec_id", "embedding").createOrReplaceTempView("embeddings")
    def aud(i: Long) = MultimodalOps.wavBytes(16000, 1,
      Array.tabulate(64)(j => ((audOf.getOrElse(i, i) * 7 + j) % 251).toByte))
    def vid(i: Long) = MultimodalOps.mp4Bytes(320, 240,
      Array.tabulate(64)(j => ((vidOf.getOrElse(i, i) * 13 + j) % 251).toByte))
    val payloads = ids.map(i => (i,
      ExtQueries.TestSql.plantedImage(imgOf.getOrElse(i, i)),
      aud(i), vid(i)))
      .toDF("doc_id", "payload", "apayload", "vpayload")
    val got = ExtQueries.TestSql.multimodalCurateAv(spark, payloads)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val expected = Map(
      "L0" -> "keep", "L1" -> "keep", "L2" -> "text_dup",
      "L3" -> "keep", "L4" -> "image_dup", "L5" -> "keep",
      "L6" -> "vector_dup", "L7" -> "keep", "L8" -> "audio_dup",
      "L9" -> "keep", "L10" -> "video_dup", "L11" -> "vector_dup",
      "L12" -> "keep", "L13" -> "audio_dup", "L14" -> "keep")
    assert(got == expected, s"verdicts: $got")
  }

  test("p16: unparseable audio/video stay in the survivor chain (sentinel)") {
    val sp = spark; import sp.implicits._
    import graft.multimodal.MultimodalOps
    // Two docs with garbage audio AND video payloads sharing an
    // embedding: the NULL digests must not drop them from the chain —
    // one keeps, the other is a vector_dup (p15's sentinel rule applied
    // to the new stages).
    Seq((0L, "zero words", "en"), (1L, "one words", "en"))
      .toDF("doc_id", "text", "lang").createOrReplaceTempView("documents")
    def vec(seed: Long) = Array.tabulate(64)(j => (seed * 31 + j) / 100.0f)
    Seq(0L -> vec(7), 1L -> vec(7))
      .toDF("vec_id", "embedding").createOrReplaceTempView("embeddings")
    val garbage = Array[Byte](1, 2, 3, 4)
    val payloads = Seq(
      (0L, ExtQueries.TestSql.plantedImage(0L), garbage, garbage),
      (1L, ExtQueries.TestSql.plantedImage(1L), garbage, garbage))
      .toDF("doc_id", "payload", "apayload", "vpayload")
    val got = ExtQueries.TestSql.multimodalCurateAv(spark, payloads)
      .collect().map(r => (r.getString(1), r.getLong(2))).toMap
    assert(got == Map("keep" -> 1L, "vector_dup" -> 1L), s"verdicts: $got")
  }

  test("v11: recall is monotone in nprobe and covers the full query sample") {
    // The sweep's contract: candidate sets nest (nprobe=1 ⊂ 2 ⊂ 4), so
    // total recalled ground-truth neighbors must be non-decreasing in
    // nprobe, and each level scores the SAME 20-query sample.
    val rows = graft.SparkEntry
      .queries("v11_ivf_nprobe_sweep")(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    val byLevel = rows.groupBy(_._1)
    assert(byLevel.keySet == Set(1, 2, 4), s"levels: ${byLevel.keySet}")
    byLevel.foreach { case (lv, rs) =>
      assert(rs.map(_._3).sum == 20L, s"nprobe=$lv should score 20 queries")
    }
    val totalHits = Seq(1, 2, 4)
      .map(lv => byLevel(lv).map(r => r._2 * r._3).sum)
    assert(totalHits == totalHits.sorted,
      s"recall not monotone in nprobe: $totalHits")
    // the widest setting must actually help on this corpus (otherwise
    // the sweep measures nothing)
    assert(totalHits.last > totalHits.head, s"flat curve: $totalHits")
  }

  test("v24: the grid is monotone in nprobe per K, covers every cell, " +
    "and its nprobe=2 column IS v23's curve") {
    // The 2-D sweep's contract: per K the candidate sets nest along
    // nprobe (min_prank filters), so recalled neighbors are
    // non-decreasing in nprobe; every (K, nprobe) cell scores the
    // SAME 20-query sample; and the nprobe=2 slice must equal v23's
    // per-K histograms — same models, same ground truth, same tail,
    // measured through two independent harnesses.
    val dir = "/root/testdata/sf0.001"
    // k/nprobe come from the VALUES level relations (INT); counts are
    // BIGINT
    val grid = graft.SparkEntry.queries("v24_kmeans_grid")(spark, dir)
      .collect()
      .map(r => ((r.getInt(0), r.getInt(1)), (r.getLong(2), r.getLong(3))))
    val cells = grid.groupBy(_._1)
    assert(cells.keySet ==
      (for (k <- Set(4, 8, 16); np <- Set(1, 2, 4)) yield (k, np)),
      s"cells: ${cells.keySet}")
    for (k <- Seq(4, 8, 16)) {
      for (np <- Seq(1, 2, 4))
        assert(cells((k, np)).map(_._2._2).sum == 20L,
          s"(K=$k, nprobe=$np) must score 20 queries")
      val hits = Seq(1, 2, 4)
        .map(np => cells((k, np)).map { case (_, (h, n)) => h * n }.sum)
      assert(hits == hits.sorted, s"K=$k not monotone in nprobe: $hits")
    }
    val v23 = graft.SparkEntry.queries("v23_kmeans_k_sweep")(spark, dir)
      .collect()
      .map(r => ((r.getInt(0), r.getLong(1)), r.getLong(2))).toMap
    val np2 = grid.filter(_._1._2 == 2)
      .map { case ((k, _), (h, n)) => ((k, h), n) }.toMap
    assert(np2 == v23,
      s"grid's nprobe=2 column diverges from v23:\n$np2\nvs\n$v23")
  }

  test("v25: the Pareto surface's cost column is monotone both ways " +
    "and its hits agree with v24's histograms cell for cell") {
    val dir = "/root/testdata/sf0.001"
    val pareto = graft.SparkEntry.queries("v25_kmeans_pareto")(spark, dir)
      .collect()
      .map(r => ((r.getLong(0), r.getLong(1)),
        (r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(pareto.keySet ==
      (for (k <- Set(4L, 8L, 16L); np <- Set(1L, 2L, 4L)) yield (k, np)))
    for (k <- Seq(4L, 8L, 16L)) {
      // candidate sets nest along nprobe -> cost monotone increasing
      val costs = Seq(1L, 2L, 4L).map(np => pareto((k, np))._1)
      assert(costs == costs.sorted && costs.last > costs.head,
        s"K=$k costs not increasing in nprobe: $costs")
    }
    for (np <- Seq(1L, 2L, 4L)) {
      // finer partitions probe smaller cells -> cost decreasing in K
      val costs = Seq(4L, 8L, 16L).map(k => pareto((k, np))._1)
      assert(costs == costs.sorted.reverse,
        s"nprobe=$np costs not decreasing in K: $costs")
    }
    // hits agree with v24's histograms, cell for cell (same pairs pass)
    val grid = graft.SparkEntry.queries("v24_kmeans_grid")(spark, dir)
      .collect()
      .map(r => ((r.getInt(0).toLong, r.getInt(1).toLong),
        r.getLong(2) * r.getLong(3)))
      .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    // recall_pm denominator derived from the gt relation itself (up
    // to 5 neighbors per query — a fixture with <6 eligible vectors
    // per query would shrink it, so never hardcode 20x5=100)
    val nTruth = ExtQueries.TestSql.kmGtCount(spark)
    assert(nTruth > 0L, "empty ANN ground truth")
    pareto.foreach { case (cell, (_, nHit, recallPm)) =>
      assert(grid(cell) == nHit,
        s"cell $cell: v25 hits $nHit vs v24 ${grid(cell)}")
      assert(recallPm == (1000L * nHit) / nTruth,
        s"cell $cell recall ($recallPm vs ${1000L * nHit}/$nTruth)")
    }
  }

  test("v12: RRF fusion covers the sample and tracks the stronger retriever") {
    // Deterministic against the fixed sf0.001 corpus: three histograms
    // (lsh / ivf / rrf), each over the full 20-query sample; the fused
    // ranking must not collapse toward the weak retriever (on this
    // corpus LSH scores ~0 — v09's honest isotropic result — while IVF
    // recovers 1-4 of top-5, so a fusion below LSH or far below IVF
    // means rank handling is broken).
    val rows = graft.SparkEntry
      .queries("v12_hybrid_rrf_recall")(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val by = rows.groupBy(_._1)
    assert(by.keySet == Set("lsh", "ivf", "rrf"), s"retrievers: ${by.keySet}")
    by.foreach { case (ret, rs) =>
      assert(rs.map(_._3).sum == 20L, s"$ret should score 20 queries")
    }
    def total(ret: String) = by(ret).map(r => r._2 * r._3).sum
    assert(total("rrf") >= total("lsh"),
      s"fusion below the weak retriever: rrf=${total("rrf")} lsh=${total("lsh")}")
    assert(total("rrf") * 2 >= total("ivf"),
      s"fusion far below the strong retriever: rrf=${total("rrf")} ivf=${total("ivf")}")
  }

  test("v09: perfect recall when buckets hold the truth; honest zero under the cap") {
    val sp = spark; import sp.implicits._
    def emb(rows: Int): Unit =
      (0 until rows).map(i => (i.toLong, Array.fill(64)(1.0f)))
        .toDF("vec_id", "embedding").createOrReplaceTempView("embeddings")
    // 60 identical vectors, one bucket of 60 (under the cap): the ANN
    // list equals the ground truth (same cos, same nid tie-break)
    emb(60)
    val perfect = ExtQueries.TestSql.annRecall(spark)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(perfect == Map(5L -> 50L))
    // 1001 identical vectors: the hot-bucket cap drops the only bucket,
    // the ANN returns nothing, and every query scores an honest zero
    emb(1001)
    val capped = ExtQueries.TestSql.annRecall(spark)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(capped == Map(0L -> 50L))
  }

  test("t16: greedy merge application changes round-2 pair counts " +
    "((a)(a)(a) -> (aa)(a))") {
    val sp = spark; import sp.implicits._
    // Vocabulary: "aaa" x4, "ab" x5 ("x" filtered: length < 2).
    // Round 1 pairs: "a a" 2-per-word x4 = 8 beats "a b" = 5, so the
    // first merge is a+a. GREEDY application turns (a)(a)(a) into
    // (aa)(a) — ONE merged pair plus a leftover 'a', never (aa)(aa) —
    // so round 2 sees "aa a" at weight 4, not 8: "a b" (5) wins round
    // 2 and "aa a" (4) wins round 3. A non-greedy or no-op application
    // would pick a different round-2/3 merge or wrong token totals.
    Seq(
      (1L, "aaa aaa ab", "en"),
      (2L, "aaa aaa ab ab", "en"),
      (3L, "ab ab x", "en"))
      .toDF("doc_id", "text", "lang").createOrReplaceTempView("documents")
    val got = ExtQueries.TestSql.bpeTrain(spark)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).sortBy(_._1)
    assert(got.map(t => (t._1, t._2, t._3, t._4)).toSeq == Seq(
      (0L, "", 0L, 22L),      // 4x3 + 5x2 symbols before any merge
      (1L, "a a", 8L, 18L),   // aaa -> (aa)(a): 4x2 + 5x2
      (2L, "a b", 5L, 13L),   // ab -> (ab): 8 + 5x1
      (3L, "aa a", 4L, 9L))) // aaa -> (aaa): 4x1 + 5
    // every merge rewrites the vocabulary: checksums pairwise distinct
    assert(got.map(_._5).distinct.size == 4)
  }

  test("t18: encode applies the learned merges in TRAINING order " +
    "(m3's pattern contains the m1-fused symbol)") {
    val sp = spark; import sp.implicits._
    // Same trainer fixture as the t16 test plus one "aab": merges are
    // m1=a+a (9), m2=a+b (5), m3=aa+a (4). Chaining is the intent
    // pin: m3's pattern (aa)(a) only matches a sequence ALREADY
    // rewritten by m1 — "aaa" encodes to ONE token (aaa) iff m1 runs
    // before m3; reverse order leaves (aa)(a) = 2 tokens, no-op
    // application 3. "aab" exercises a partial collapse: (aa)(b), 2
    // tokens, so s1's tokens-per-word ratio is a non-trivial 1333.
    Seq(
      (1L, "aaa aaa ab", "en", "s0"),
      (2L, "aaa aaa ab ab", "en", "s0"),
      (3L, "ab ab x aab", "en", "s1"))
      .toDF("doc_id", "text", "lang", "source")
      .createOrReplaceTempView("documents")
    val got = ExtQueries.TestSql.bpeEncode(spark)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq
    assert(got == Seq(
      ("en", "s0", 7L, 7L, 1000L),   // aaa x4 -> (aaa); ab x3 -> (ab)
      ("en", "s1", 3L, 4L, 1333L))) // ab, ab -> 1 each; aab -> (aa)(b)
  }

  test("v16: PQ retrieves a mixed-subspace vector no training label " +
    "matches (independent per-subspace codes)") {
    val sp = spark; import sp.implicits._
    // Two training populations: label 0 = all dims +1, label 1 = all
    // dims -1 (one doc -1.25 in every dim, making label 1's centroid
    // mean NON-divisible: -11.25e6 // 11 exercises the portable floor
    // division on a negative numerator). The query (vec 0) and its
    // true neighbor (vec 5) are MIXED: +1 on subspaces 0-1, -1 on 2-3
    // — a shape NO label group has, so a whole-vector codebook could
    // only place them with one of the pure populations; PQ's
    // independent per-subspace codes assign (c0, c0, c1, c1) and the
    // ADC scan puts vec 5 at distance ~0. Exact rerank: cos(0,5) = 1,
    // every pure doc has cos 0 (the +/- halves cancel), ties broken
    // by nid — the bottom of the top-5 is docs 10..13 by id.
    val mixed = Array.fill(32)(1.0f) ++ Array.fill(32)(-1.0f)
    val docs =
      Seq((0L, 0L, mixed), (5L, 0L, mixed)) ++
      (10L to 19L).map(i => (i, 0L, Array.fill(64)(1.0f))) ++
      (20L to 29L).map(i => (i, 1L, Array.fill(64)(-1.0f))) ++
      Seq((30L, 1L, Array.fill(64)(-1.25f)))
    docs.toDF("vec_id", "label", "embedding")
      .createOrReplaceTempView("embeddings")
    val got = spark.sql(ExtQueries.TestSql.knnPq)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSeq
    assert(got == Seq((0L, 5L, 1.0), (0L, 10L, 0.0), (0L, 11L, 0.0),
      (0L, 12L, 0.0), (0L, 13L, 0.0)), s"got $got")
  }

  test("v18: exact rerank recovers the recall PQ quantization erases " +
    "(and dominates raw ADC by construction)") {
    val sp = spark; import sp.implicits._
    // One query (vec 0) = u + strong tilt on dim 17 (subspace s1).
    // Group X (label 0, ids 20-29) = u + i*0.01 on dim 17: the
    // codebook mean COLLAPSES the tilt, so all X members share one
    // code and the raw ADC top-5 is decided by the nid tie-break —
    // the five LOWEST ids — while the true top-5 (and the ground
    // truth) are the five HIGHEST-tilt members 25..29. Every
    // candidate fits the top-20 shortlist, so the exact rerank
    // returns the ground truth exactly: adc scores 0 hits, rerank 5.
    // Group Y (label 1, orthogonal direction, dim 17 = -1 so every X
    // member's small positive tilt is nearest X's OWN subspace
    // centroid, keeping the X codes identical) keeps K >= 2 codebooks
    // and fills the shortlist tail.
    def vec(dir17: Double, base: Int): Array[Float] = {
      val a = Array.fill(64)(0.0f); a(base) = 1.0f
      a(17) = dir17.toFloat; a
    }
    val docs =
      Seq((0L, 0L, vec(0.5, 0))) ++
      (20L to 29L).map(i => (i, 0L, vec((i - 19) * 0.01, 0))) ++
      (30L to 39L).map(i => (i, 1L, vec(-1.0, 33)))
    docs.toDF("vec_id", "label", "embedding")
      .createOrReplaceTempView("embeddings")
    val got = spark.sql(ExtQueries.TestSql.pqRecall)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSeq
    assert(got == Seq(("adc", 0L, 1L), ("rerank", 5L, 1L)), s"got $got")
  }

  test("q66: incremental index maintenance converges to the full " +
    "rebuild (base ∪ delta == batch postings; empty docs still count)") {
    val sp = spark; import sp.implicits._
    // fresh fixture dir => fresh cache key => base build + stream
    // drain actually run here, not served from a prior run's cache
    val fixdir = java.nio.file.Files
      .createTempDirectory("q66fix").toFile.getAbsolutePath
    Seq(
      (0L, "hash join hash"),        // even -> batch base; tf=2 for hash
      (1L, "vector hash"),           // odd  -> streamed
      (2L, ""),                      // even, EMPTY text: dl row, no postings
      (3L, "  "),                    // odd, whitespace-only: same, via the stream
      (4L, "join vector join join"), // even
      (5L, "zzz"))                   // odd, term outside the probe set
      .toDF("doc_id", "text").createOrReplaceTempView("documents")
    ExtQueries.TestSql.streamIndexMaintain(spark, fixdir).collect()
    // invariant 1: unfiltered base ∪ delta postings == batch rebuild
    val got = spark.sql("SELECT doc_id, w, tf FROM q66_post_all")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val want = spark.sql(
      """SELECT doc_id, w, COUNT(*) AS tf FROM (
        |  SELECT doc_id, w FROM documents
        |  LATERAL VIEW explode(split(lower(text), ' ')) _e AS w) t
        |WHERE w <> '' GROUP BY doc_id, w""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(got.length == want.length && got.toSet == want.toSet)
    // invariant 2: every doc has exactly one length row — including
    // the no-posting docs 2 and 3, which still count toward N/avgdl
    val dl = spark.sql("SELECT doc_id, dl FROM q66_dl")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(dl.length == 6 && dl.toMap == Map(0L -> 3L, 1L -> 2L,
      2L -> 0L, 3L -> 0L, 4L -> 4L, 5L -> 1L))
  }

  test("q74: the size trigger picks the branch from real delta/base " +
    "bytes, and either branch serves q66's exact BM25 answer") {
    val sp = spark; import sp.implicits._
    def run(docs: Seq[(Long, String)]): (Set[String], Boolean) = {
      val fixdir = java.nio.file.Files
        .createTempDirectory("q74fix").toFile.getAbsolutePath
      docs.toDF("doc_id", "text").createOrReplaceTempView("documents")
      // the un-triggered reference: q66's base ∪ delta probe
      val want = ExtQueries.TestSql.streamIndexMaintain(spark, fixdir)
        .collect().map(_.toString).toSet
      val got = ExtQueries.TestSql.indexCompactPolicy(spark, fixdir)
        .collect().map(_.toString).toSet
      assert(got == want, s"policy branch diverged from q66:\n$got\nvs\n$want")
      val fired = new java.io.File(graft.queries.Tables
        .cachePath(fixdir, "inv_compacted"), "_SUCCESS").exists()
      (got, fired)
    }
    // delta-light: 40 long even docs vs one one-word odd doc — the
    // delta stays under 25% of the base, the rewrite is skipped
    val fat = (1 to 120).map(i => s"hash join vector w$i").mkString(" ")
    val (lightRows, lightFired) = run(
      (0 until 40).map(i => (2L * i, s"doc$i $fat")) :+ (1L, "hash"))
    assert(!lightFired, "delta-light corpus should not fire the trigger")
    assert(lightRows.nonEmpty)
    // delta-heavy: two tiny even docs vs ten long odd docs — fires
    val (heavyRows, heavyFired) = run(
      Seq((0L, "hash"), (2L, "join")) ++
        (0 until 10).map(i => (2L * i + 1L, s"odd$i $fat")))
    assert(heavyFired, "delta-heavy corpus should fire the trigger")
    assert(heavyRows.nonEmpty)
  }

  test("q68: incremental IVF assignment converges to the full rebuild " +
    "(including vectors whose nearest centroid is another label's)") {
    val sp = spark; import sp.implicits._
    val fixdir = java.nio.file.Files
      .createTempDirectory("q68fix").toFile.getAbsolutePath
    // Label 0 centroid ~ e0; label 1 centroid ~ e1. Vec 7 (odd ->
    // STREAMED) carries label 0 but points at e1: its nearest centroid
    // is label 1's, so a lazy "cell = label" maintenance would place
    // it wrong — the invariant catches assignment, not label echo.
    def e(i: Int, v: Double = 1.0): Array[Float] = {
      val a = Array.fill(64)(0.0f); a(i) = v.toFloat; a
    }
    val vecs =
      (0L to 5L).map(i => (i, 0L, e(0, 1.0 + 0.01 * i))) ++
      (10L to 15L).map(i => (i, 1L, e(1, 1.0 + 0.01 * i))) ++
      Seq((7L, 0L, e(1)))
    vecs.toDF("vec_id", "label", "embedding")
      .createOrReplaceTempView("embeddings")
    ExtQueries.TestSql.streamIvfIndex(spark, fixdir)
    val got = spark.sql("SELECT vec_id, cell FROM q68_idx")
      .collect().map(r => (r.getLong(0), r.getAs[Number](1).longValue))
    val want = spark.sql(ExtQueries.TestSql.ivfAssignAllSql)
      .collect().map(r => (r.getLong(0), r.getAs[Number](1).longValue))
    assert(got.length == want.length && got.toSet == want.toSet,
      s"got ${got.sorted.toSeq}, want ${want.sorted.toSeq}")
    // and the cross-label vector was streamed into label 1's cell
    val v7 = got.find(_._1 == 7L).get._2
    val l1cell = want.find(_._1 == 10L).get._2
    assert(v7 == l1cell, s"vec 7 in cell $v7, label-1 cell is $l1cell")
  }

  test("v26: the size trigger picks the IVF branch from real " +
    "delta/base bytes, and either branch holds the full rebuild") {
    val sp = spark; import sp.implicits._
    def e(i: Int, v: Double): Array[Float] = {
      val a = Array.fill(64)(0.0f); a(i) = v.toFloat; a
    }
    def run(vecs: Seq[(Long, Long, Array[Float])])
        : (String, Boolean, Long, Long) = {
      val fixdir = java.nio.file.Files
        .createTempDirectory("v26fix").toFile.getAbsolutePath
      vecs.toDF("vec_id", "label", "embedding")
        .createOrReplaceTempView("embeddings")
      val view = ExtQueries.TestSql.ivfPolicyIndex(spark, fixdir)
      // whichever branch fired, the served view must hold exactly the
      // full rebuild's (vec_id, cell) assignment — the policy can
      // change only cost, never content
      val got = spark.sql(s"SELECT vec_id, cell FROM $view")
        .collect().map(r => (r.getLong(0), r.getAs[Number](1).longValue))
      val want = spark.sql(ExtQueries.TestSql.ivfAssignAllSql)
        .collect().map(r => (r.getLong(0), r.getAs[Number](1).longValue))
      assert(got.length == want.length && got.toSet == want.toSet,
        s"$view diverged: ${got.sorted.toSeq} vs ${want.sorted.toSeq}")
      val fired = new java.io.File(graft.queries.Tables
        .cachePath(fixdir, "ivf_compacted"), "_SUCCESS").exists()
      // the branch choice must rest on real payload bytes, not on
      // per-file format overhead (headers/sidecars): assert the
      // measured ratio itself sits FAR from the 25% trigger, so a
      // format-overhead change surfaces here as a named margin
      // failure instead of silently flipping the branch under test
      val baseB = ExtQueries.p24DataBytes(
        graft.queries.Tables.cachePath(fixdir, "ivf_base_even"))
      val deltaB = ExtQueries.p24DataBytes(
        graft.queries.Tables.cachePath(fixdir, "ivf_delta"))
      (view, fired, baseB, deltaB)
    }
    // delta-light: 200 even vectors vs ONE odd — the delta (one tiny
    // file) stays far under 25% of the base even counting per-file
    // overhead, the rewrite is skipped, the union view serves
    val (lightView, lightFired, lb, ld) = run(
      (0 until 200).map(i => (2L * i, 0L, e(0, 1.0 + 0.001 * i))) :+
        ((1L, 1L, e(1, 1.0))))
    assert(!lightFired, "delta-light corpus should not fire the trigger")
    assert(lightView == "q68_idx")
    assert(ld * 100 < lb * 15,
      s"delta-light margin too thin: delta=$ld base=$lb bytes — " +
        "the 25% trigger would flip on modest format-overhead drift")
    // delta-heavy: two even vectors vs ten odd — fires, repack serves
    val (heavyView, heavyFired, _, _) = run(
      Seq((0L, 0L, e(0, 1.0)), (2L, 0L, e(0, 1.01))) ++
        (0 until 10).map(i => (2L * i + 1L, 1L, e(1, 1.0 + 0.001 * i))))
    assert(heavyFired, "delta-heavy corpus should fire the trigger")
    assert(heavyView == "v26_idx")
  }

  test("lshGeomPairsDF(spark, 4) returns d03's exact pair set") {
    val sp = spark; import sp.implicits._
    val x8 = (1 to 8).map(i => s"x$i").mkString(" ")
    Seq(
      (1L, "a b c d e f g h i j k l", "en"),
      (2L, "a b c d e f g h i j k l", "en"),
      (3L, s"pa pb $x8 pc pd", "en"),
      (4L, s"ra rb $x8 rc rd", "en"))
      .toDF("doc_id", "text", "lang").createOrReplaceTempView("documents")
    val geom = ExtQueries.lshGeomPairsDF(spark, 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val prod = ExtQueries.TestSql.minhashPairs(spark)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(geom == prod,
      s"4x4 geometry cell diverged from d03: $geom vs $prod")
    assert(geom.contains((1L, 2L)))
  }

  test("v27: the category filter applies BEFORE the top-k window — " +
    "globally-nearer off-category vectors are excluded, on-category " +
    "ones fill the full k") {
    val sp = spark; import sp.implicits._
    def e(i: Int, v: Double): Array[Float] = {
      val a = Array.fill(64)(0.0f); a(i) = v.toFloat; a
    }
    def mix(a: Double, b: Double): Array[Float] = {
      val arr = Array.fill(64)(0.0f)
      arr(0) = a.toFloat; arr(1) = b.toFloat; arr
    }
    val fixdir = java.nio.file.Files
      .createTempDirectory("v27fix").toFile.getAbsolutePath
    // query 0 points at e0. Vectors 30/31 (label 3) are EXACT
    // e0-direction — globally the nearest (cos = 1). The label-7
    // vectors 40/41/42 are slightly off-axis (cos < 1). A filter
    // applied AFTER the top-k would return label-3 rows (wrong) or
    // nothing; the correct filtered top-k is exactly {40, 41, 42}.
    Seq(
      (0L, 3L, e(0, 1.0)),
      (30L, 3L, e(0, 1.02)), (31L, 3L, e(0, 1.01)),
      (40L, 7L, mix(0.9, 0.1)), (41L, 7L, mix(0.9, 0.12)),
      (42L, 7L, mix(0.88, 0.1)))
      .toDF("vec_id", "label", "embedding")
      .createOrReplaceTempView("embeddings")
    val got = ExtQueries.TestSql.knnFiltered(spark, fixdir)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val q0 = got.filter(_._1 == 0L).map(_._2).toSet
    assert(q0 == Set(40L, 41L, 42L),
      s"filtered top-k for q0 should be the label-7 set, got $q0")
    assert(!got.map(_._2).toSet.exists(Set(30L, 31L)),
      s"off-category vectors leaked through the filter: ${got.toSeq}")
  }

  test("v28: a duplicate-of-base arrival is physically routed to " +
    "adm=0 and never reaches a cell; admitted arrivals land in the " +
    "full rebuild's cells; degenerate vectors are rejected") {
    val sp = spark; import sp.implicits._
    def e(i: Int, v: Double): Array[Float] = {
      val a = Array.fill(64)(0.0f); a(i) = v.toFloat; a
    }
    val fixdir = java.nio.file.Files
      .createTempDirectory("v28fix").toFile.getAbsolutePath
    // evens -> base; odds arrive. Vec 7 duplicates base vec 2
    // EXACTLY (the dedup-at-ingest target); vec 9 is the zero vector
    // (degenerate); vecs 1/11 are genuine new arrivals.
    val vecs =
      Seq((0L, 0L, e(0, 1.0)), (2L, 0L, e(0, 1.02)),
        (10L, 1L, e(1, 1.0)), (12L, 1L, e(1, 1.02))) ++
      Seq((1L, 0L, e(0, 1.05)), (7L, 0L, e(0, 1.02)),
        (9L, 0L, Array.fill(64)(0.0f)), (11L, 1L, e(1, 1.05)))
    vecs.toDF("vec_id", "label", "embedding")
      .createOrReplaceTempView("embeddings")
    ExtQueries.TestSql.vectorRefreshIndex(spark, fixdir)
    val idx = spark.sql("SELECT vec_id, cell FROM v28_idx")
      .collect().map(r => (r.getLong(0), r.getAs[Number](1).longValue))
    val ids = idx.map(_._1).toSet
    // the duplicate and the zero vector are OUT; everything else IN
    assert(ids == Set(0L, 2L, 10L, 12L, 1L, 11L),
      s"served index ids: $ids")
    // admitted arrivals carry the full rebuild's cell assignment
    val want = spark.sql(ExtQueries.TestSql.ivfAssignAllSql)
      .collect().map(r => (r.getLong(0), r.getAs[Number](1).longValue))
      .toMap
    assert(idx.toMap.get(1L) == want.get(1L) &&
      idx.toMap.get(11L) == want.get(11L), s"cells: ${idx.toSeq}")
    // and the rejection is PHYSICAL: the route dir holds vec 7 and 9
    // under adm=0, vec 1 and 11 under adm=1
    val route = graft.queries.Tables.cachePath(fixdir, "v28_route")
    val routed = spark.read.format("columnfile")
      .load(new java.io.File(route).listFiles()
        .filter(_.isDirectory).map(_.getPath).toIndexedSeq: _*)
      .selectExpr("vec_id", "adm")
      .collect().map(r => (r.getLong(0), r.getAs[Number](1).longValue))
      .toMap
    assert(routed == Map(1L -> 1L, 7L -> 0L, 9L -> 0L, 11L -> 1L),
      s"routes: $routed")
  }

  test("t07/BM25 family: a sub-milli average doc length is floored, " +
    "not divided by zero") {
    val sp = spark; import sp.implicits._
    // 10k empty docs + ONE one-word doc: SUM(dl)*1000 div COUNT(*)
    // floors to 0, and without the GREATEST(.., 1) floor the score
    // expression divides by (SELECT avgdl_milli) = 0 on the posting
    // row — an ANSI runtime error in Spark and an error in DuckDB.
    // The floor makes the degenerate corpus return the defined
    // answer: the one posting doc, positive score, one term.
    val docs = Seq((1L, "hash")) ++
      (1000L until 11000L).map(i => (i, ""))
    docs.toDF("doc_id", "text").createOrReplaceTempView("documents")
    val got = ExtQueries.TestSql.bm25(spark)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.length == 1 && got(0)._1 == 1L && got(0)._2 > 0L &&
      got(0)._3 == 1L, s"got ${got.toSeq}")
  }

  test("p19: under 65 docs tau is 0 and the HT estimate is exact") {
    val sp = spark; import sp.implicits._
    // 10 docs -> t65 holds all of them -> tau = 0 -> max(w, tau) = w
    // for every sampled doc: the "sample" is a census and the
    // Horvitz-Thompson estimate must equal the exact totals.
    (1L to 10L).map(i => (i, Seq.fill(i.toInt)("w").mkString(" "),
        if (i % 2 == 0) "en" else "de"))
      .toDF("doc_id", "text", "lang").createOrReplaceTempView("documents")
    val got = ExtQueries.TestSql.prioritySample
    val rows = spark.sql(got).collect().map(r => (r.getString(0),
      r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
      r.getLong(5))).sortBy(_._1)
    assert(rows.toSeq == Seq(
      ("de", 5L, 25L, 5L, 25L, 0L),   // 1+3+5+7+9
      ("en", 5L, 30L, 5L, 30L, 0L))) // 2+4+6+8+10
  }

  test("p19: heavy-tailed corpus — heavy docs estimated exactly, light " +
    "mass reconstructed by tau") {
    val sp = spark; import sp.implicits._
    // 5 docs of 5000 tokens (lang big) + 195 docs of 2 tokens (lang
    // small): every big doc's priority w*P div (h+1) >= w = 5000 and
    // no small doc's deterministic hash beats that, so all 5 big docs
    // are sampled and tau (the 65th priority, a small doc's) is far
    // below 5000 -> max(w, tau) = w -> the big lang's estimate is
    // EXACT. The small lang is estimated as 59 sampled docs x tau —
    // the DLT subset-sum reconstruction — and must land near its 390
    // exact tokens (deterministic run: 354, a 9% error on a 64-of-200
    // sample).
    val docs =
      (1L to 5L).map(i => (i, Seq.fill(5000)("w").mkString(" "), "big")) ++
      (6L to 200L).map(i => (i, "w w", "small"))
    docs.toDF("doc_id", "text", "lang").createOrReplaceTempView("documents")
    val rows = spark.sql(ExtQueries.TestSql.prioritySample)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).sortBy(_._1).toSeq
    val big = rows.find(_._1 == "big").get
    val small = rows.find(_._1 == "small").get
    val tau = big._6
    assert(tau > 0 && tau < 5000, s"tau=$tau")
    assert(big == ("big", 5L, 25000L, 5L, 25000L, tau))
    assert(small._2 == 195L && small._3 == 390L && small._4 == 59L)
    assert(math.abs(small._5 - 390L) <= 60L,
      s"small-lang HT estimate ${small._5} too far from exact 390")
  }

  test("t19: training separates the planted classes; the scrambled-label " +
    "twin cannot") {
    val sp = spark; import sp.implicits._
    // Pick vocabulary by the TEACHER's own weight formula: words whose
    // hashed bucket carries a strongly positive (class A) / negative
    // (class B) planted weight, buckets distinct so the classes are
    // linearly separable in the feature space by construction.
    val P = 2147483647L
    val cand = (0 until 400).map(i => s"pw$i")
    val wRows = cand.map { w =>
      val b = spark.sql(s"SELECT pmod(graft_polyhash('$w'), 1024)")
        .head().getLong(0)
      (w, b, ((b * 2654435761L) % P) % 2001 - 1000)
    }
    val aWords = wRows.filter(_._3 > 500).map(_._1).take(5)
    val bWords = wRows.filter(_._3 < -500).map(_._1).take(5)
    assert(aWords.size == 5 && bWords.size == 5)
    val aText = aWords.mkString(" ")
    val bText = bWords.mkString(" ")
    val docs = (1L to 30L).map(i => (i, aText, "en")) ++
      (31L to 60L).map(i => (i, bText, "en"))
    docs.toDF("doc_id", "text", "lang").createOrReplaceTempView("documents")
    val rows = ExtQueries.TestSql.classifierTrain(spark).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    // epoch 1 updates every doc (w0 = 0); the first gradient already
    // separates the planted classes — residual misclassification 0
    assert(rows(1L) == 60L, s"epoch-1 updates: ${rows(1L)}")
    assert(rows(13L) == 0L,
      s"planted classes should separate; residual ${rows(13L)}")
    // Scrambled twin: identical features, labels alternating WITHIN
    // each identical-text group — no linear model can do better than
    // 50% on an identical-feature group with mixed labels.
    val scrLab = (1L to 60L).map(i => (i, if (i % 2 == 0) 1 else -1))
      .toDF("doc_id", "y")
    val scr = ExtQueries.TestSql.classifierTrainWith(spark, scrLab)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(scr(13L) >= 30L,
      s"scrambled labels must not separate; residual ${scr(13L)}")
  }

  test("t21: held-out eval scores the separable fixture perfectly; the " +
    "scrambled-label model misclassifies a planted test group") {
    val sp = spark; import sp.implicits._
    // Same teacher-aligned vocabulary construction as the t19 fixture:
    // classes linearly separable in the hashed feature space.
    val P = 2147483647L
    val cand = (0 until 400).map(i => s"pw$i")
    val wRows = cand.map { w =>
      val b = spark.sql(s"SELECT pmod(graft_polyhash('$w'), 1024)")
        .head().getLong(0)
      (w, b, ((b * 2654435761L) % P) % 2001 - 1000)
    }
    val aText = wRows.filter(_._3 > 500).map(_._1).take(5).mkString(" ")
    val bText = wRows.filter(_._3 < -500).map(_._1).take(5).mkString(" ")
    // id range chosen so the SCRAMBLED epoch-1 residual points the
    // planted B group's buckets the WRONG way (net flip imbalance +4):
    // the scrambled model then predicts +1 on B's identical features
    // while the teacher says -1 — the chance floor made visible.
    val aIds = 4001L to 5000L
    val bIds = 5001L to 6000L
    val docs = aIds.map(i => (i, aText, "en")) ++
      bIds.map(i => (i, bText, "en"))
    docs.toDF("doc_id", "text", "lang").createOrReplaceTempView("documents")
    val teA = aIds.count(ExtQueries.TestSql.splitBucket(_) >= 990)
    val teB = bIds.count(ExtQueries.TestSql.splitBucket(_) >= 990)
    assert(teA > 3 && teB > 3, s"fixture test slice too small: $teA/$teB")
    val rows = ExtQueries.TestSql.classifierEval(spark).collect()
      .map(r => r.getString(0) -> (r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7))).toMap
    val (ltp, lfp, lfn, ltn, lprec, lrec) = rows("learned")
    // the learned model, trained WITHOUT the test docs, is perfect on
    // them: the classes are separable and the teacher is realizable
    assert((ltp, lfp, lfn, ltn) == (teA.toLong, 0L, 0L, teB.toLong),
      s"learned confusion: ${rows("learned")}")
    assert(lprec == 1000L && lrec == 1000L)
    val (stp, sfp, sfn, stn, _, _) = rows("scrambled")
    assert(stp + sfp + sfn + stn == teA.toLong + teB.toLong)
    assert(sfp + sfn >= 1L,
      s"scrambled model must not be perfect: ${rows("scrambled")}")
  }

  test("v19: one Lloyd round moves a centroid and reassigns the planted " +
    "vector; round 3 is converged") {
    val sp = spark; import sp.implicits._
    def vec(pairs: (Int, Float)*): Array[Float] = {
      val a = Array.fill(64)(0.0f)
      pairs.foreach { case (i, v) => a(i) = v }
      a
    }
    // Seed selection is the 8 hash-smallest vec_ids, so assign ROLES by
    // the same hash the query uses: from a candidate pool, the 8
    // smallest-hash ids become seeds, the 5 largest-hash ids members.
    val pool = (1L to 40L).sortBy(id =>
      (ExtQueries.TestSql.kmeansSeedHash(id), id))
    val Seq(sA, sB, an1, an2, an3, an4, an5, an6) = pool.take(8)
    val Seq(m1, m2, m3, m4, mB) = pool.takeRight(5)
    val r = pool(8) // 9th-smallest hash: never a seed
    val vecs = Seq(
      sA -> vec(0 -> 1.0f),                    // seed of cluster A (axis 0)
      sB -> vec(1 -> 1.0f),                    // seed of cluster B (axis 1)
      an1 -> vec(10 -> 1.0f), an2 -> vec(11 -> 1.0f),
      an3 -> vec(12 -> 1.0f), an4 -> vec(13 -> 1.0f),
      an5 -> vec(14 -> 1.0f), an6 -> vec(15 -> 1.0f), // inert singletons
      // diagonal-leaning A members: axis-0 dominant, so they join A
      // under the seeds and drag A's centroid toward ~38 degrees
      m1 -> vec(0 -> 0.80f, 1 -> 0.60f),
      m2 -> vec(0 -> 0.78f, 1 -> 0.625f),
      m3 -> vec(0 -> 0.79f, 1 -> 0.61f),
      m4 -> vec(0 -> 0.785f, 1 -> 0.615f),
      mB -> vec(0 -> 0.60f, 1 -> 0.80f),       // axis-1 dominant: joins B
      // the planted mover: 45.6 degrees — under the SEEDS it is
      // (barely) closer to axis-1 sB (0.714 > 0.7), but after one
      // update A's centroid (~30 deg) is closer than B's (~63 deg)
      r -> vec(0 -> 0.70f, 1 -> 0.714f))
    vecs.map { case (id, e) => (id, e, 0) }
      .toDF("vec_id", "embedding", "label")
      .createOrReplaceTempView("embeddings")
    val rows = ExtQueries.TestSql.kmeansTrain(spark).collect()
      .map(row => ((row.getLong(0), row.getLong(1)), row.getLong(2))).toMap
    // round 1 (under seeds): A = {sA, m1..m4}, B = {sB, mB, r}
    assert(rows((1L, sA)) == 5L, s"round-1 A: ${rows((1L, sA))}")
    assert(rows((1L, sB)) == 3L, s"round-1 B: ${rows((1L, sB))}")
    // round 2 (after one Lloyd update): r reassigns B -> A
    assert(rows((2L, sA)) == 6L, s"round-2 A: ${rows((2L, sA))}")
    assert(rows((2L, sB)) == 2L, s"round-2 B: ${rows((2L, sB))}")
    // round 3: converged — same membership as round 2, anchors inert
    assert(rows((3L, sA)) == 6L && rows((3L, sB)) == 2L)
    Seq(an1, an2, an3, an4, an5, an6).foreach { a =>
      assert(Seq(1L, 2L, 3L).forall(rd => rows((rd, a)) == 1L))
    }
    assert(rows.size == 24, s"expected 3 rounds x 8 clusters: ${rows.size}")
  }

  test("p24: the size trigger fires exactly at the threshold, reads " +
    "real data bytes, and either branch serves identical consumer rows") {
    val sp = spark; import sp.implicits._
    // decision boundary: >= 25% of base fires (inclusive)
    assert(!ExtQueries.p24ShouldCompact(1000L, 249L))
    assert(ExtQueries.p24ShouldCompact(1000L, 250L))
    assert(ExtQueries.p24ShouldCompact(0L, 0L))  // empty base: compact
    // p24DataBytes counts data files only (no sidecars/markers), so a
    // table's measured bytes grow with its rows
    val d1 = java.nio.file.Files.createTempDirectory("p24a").toString
    val d2 = java.nio.file.Files.createTempDirectory("p24b").toString
    (1L to 50L).map(i => (i, s"v$i")).toDF("id", "v")
      .coalesce(1).write.format("columnfile").mode("overwrite").save(d1)
    (1L to 5000L).map(i => (i, s"v$i")).toDF("id", "v")
      .coalesce(1).write.format("columnfile").mode("overwrite").save(d2)
    val (small, big) = (ExtQueries.p24DataBytes(d1),
      ExtQueries.p24DataBytes(d2))
    assert(small > 0L && big > small * 5, s"bytes: $small vs $big")
    // small delta on a big base stays un-compacted; the inverse fires
    assert(!ExtQueries.p24ShouldCompact(big, small))
    assert(ExtQueries.p24ShouldCompact(small, big))
    // branch equivalence: consumer-visible columns of base ∪ delta
    // equal the repacked table's (the p22/p23 fixture proves the full
    // rn/bin convergence; here the policy-facing guarantee is that
    // SWITCHING branches can never change per-doc content)
    val body = (1 to 60).map(i => s"toka tokb").mkString(" ")
    val docs = Seq(0L, 32L, 1L, 33L)
      .map(id => (id, "en", s"doc$id $body")).toDF("doc_id", "lang", "text")
    val mps = Seq("t o", "to k", "tok a")
    val enc = ExtQueries.p22EncodeBatch(docs, mps)
    val viaUnion = enc.selectExpr("split", "lang", "doc_id", "btoks", "toks")
      .collect().map(_.toString).sorted
    val viaCompact = ExtQueries.p23Repack(enc)
      .selectExpr("split", "lang", "doc_id", "btoks", "toks")
      .collect().map(_.toString).sorted
    assert(viaUnion.sameElements(viaCompact))
  }

  test("p25: a rejected doc never reaches a shard (the encode reads " +
    "the admit route), batch replay changes nothing, and the policy " +
    "branch cannot change consumer-visible content") {
    val sp = spark; import sp.implicits._
    val bucketOf = (w: String) =>
      spark.sql(s"SELECT graft_polyhash('$w') % 1024").head().getLong(0)
    val (bGood, bBad) = (bucketOf("good"), bucketOf("bad"))
    assume(bGood != bBad)
    val weights = Seq((bGood, 10L), (bBad, -20L)).toDF("bucket", "w")
    val mps = Seq("o o", "go od", "")  // a frozen 2-merge chain
    val all = Seq(
      (1L, "en", "good good good"),   // score 10  -> admit
      (2L, "en", "bad bad"),          // score -20 -> reject
      (3L, "en", "good bad bad"),     // score -10 -> reject
      (4L, "en", "good good bad"))    // score 0   -> admit
      .toDF("doc_id", "lang", "text")
    val root = java.nio.file.Files
      .createTempDirectory("p25fix").toString
    val routes = s"$root/routes"
    val delta = s"$root/delta"
    def run(df: org.apache.spark.sql.DataFrame, id: Long): Unit =
      ExtQueries.p25ProcessBatch(df, id, routes, delta, mps, weights)
    run(all.where("doc_id <= 2"), 0L)
    run(all.where("doc_id >= 3"), 1L)
    // a batch that admits NOTHING (one rejected doc + one wordless doc
    // that gets no verdict at all): the admit route dir never exists,
    // and the delta must simply gain an empty batch dir
    run(Seq((5L, "en", "bad bad bad bad"), (6L, "en", "  "))
      .toDF("doc_id", "lang", "text"), 2L)
    val ddl = "shard BIGINT, doc_id BIGINT, btoks BIGINT, rn BIGINT, " +
      "bin BIGINT, toks ARRAY<BIGINT>, split STRING, lang STRING"
    def deltaRows() = graft.queries.Tables
      .loadBatchDirs(spark, delta, ddl)
      .selectExpr("split", "lang", "shard", "doc_id", "btoks", "rn",
        "bin", "toks")
      .collect().map(_.toString).sorted.toSeq
    val once = deltaRows()
    // only the admitted docs reached shards — rejected NEVER do,
    // because the encode consumes the admit route DIRECTORY
    val shardDocs = graft.queries.Tables.loadBatchDirs(spark, delta, ddl)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(shardDocs == Set(1L, 4L), shardDocs.toString)
    // REPLAY batch 0 (a retried micro-batch): both its routes and its
    // delta dir are overwritten atomically — nothing changes
    run(all.where("doc_id <= 2"), 0L)
    assert(deltaRows() == once, "replay changed the shard artifact")
    // the policy's compact branch serves the same consumer content as
    // the union branch (rn/bin are repacked; per-doc columns are not)
    val union = graft.queries.Tables.loadBatchDirs(spark, delta, ddl)
      .selectExpr("split", "lang", "shard", "doc_id", "btoks", "rn",
        "bin", "toks")
    def consumerCols(df: org.apache.spark.sql.DataFrame) =
      df.selectExpr("split", "lang", "shard", "doc_id", "btoks", "toks")
        .collect().map(_.toString).sorted.toSeq
    assert(consumerCols(ExtQueries.p23Repack(union)) == consumerCols(union))
  }

  test("p27: a doc rejected by EITHER gate (text classifier OR " +
    "seen-image index) never reaches a shard, and batch replay " +
    "changes nothing") {
    val sp = spark; import sp.implicits._
    import graft.multimodal.MultimodalOps
    val bucketOf = (w: String) =>
      spark.sql(s"SELECT graft_polyhash('$w') % 1024").head().getLong(0)
    val (bGood, bBad) = (bucketOf("good"), bucketOf("bad"))
    assume(bGood != bBad)
    val weights = Seq((bGood, 10L), (bBad, -20L)).toDF("bucket", "w")
    val mps = Seq("o o", "go od", "")
    // images: A rises left-to-right (dHash bits all 1), N falls (all
    // 0) — hamming 64 apart, so N is 'new' against an A-only index;
    // A' perturbs ONE pixel of A (near dup, hamming <= 2)
    def px(f: Int => Int): Array[Byte] =
      (0 until 288).map(i => (f(i) % 251).toByte).toArray
    val imgA = MultimodalOps.pgmBytes(18, 16, px(i => (i % 18) * 13))
    val imgN = MultimodalOps.pgmBytes(18, 16, px(i => 250 - (i % 18) * 13))
    val imgA2 = {
      val p = px(i => (i % 18) * 13); p(40) = (p(40) + 90).toByte
      MultimodalOps.pgmBytes(18, 16, p)
    }
    // the frozen seen-image index: image A under rep 100
    MultimodalOps.dhashBands(
        Seq((100L, imgA)).toDF("doc_id", "payload"), "payload")
      .select("doc_id", "b0", "b1", "b2", "b3", "pdigest")
      .createOrReplaceTempView("p27fix_h")
    spark.sql(
      """SELECT MIN(doc_id) AS rep, MIN(b0) AS b0, MIN(b1) AS b1,
        |  MIN(b2) AS b2, MIN(b3) AS b3, pdigest
        |FROM p27fix_h GROUP BY pdigest""".stripMargin)
      .createOrReplaceTempView("p27_idx")
    val all = Seq(
      (1L, "en", "good good good", imgN), // both gates pass  -> admit
      (2L, "en", "bad bad", imgN),        // text reject      -> out
      (3L, "en", "good good good", imgA), // image exact dup  -> out
      (4L, "en", "good good", imgA2))     // image near dup   -> out
      .toDF("doc_id", "lang", "text", "payload")
    val root = java.nio.file.Files
      .createTempDirectory("p27fix").toString
    val routes = s"$root/routes"
    val delta = s"$root/delta"
    def run(df: org.apache.spark.sql.DataFrame, id: Long): Unit =
      ExtQueries.p27ProcessBatch(df, id, routes, delta, mps, weights)
    run(all.where("doc_id <= 2"), 0L)
    run(all.where("doc_id >= 3"), 1L)
    val ddl = "shard BIGINT, doc_id BIGINT, btoks BIGINT, rn BIGINT, " +
      "bin BIGINT, toks ARRAY<BIGINT>, split STRING, lang STRING"
    def deltaRows() = graft.queries.Tables
      .loadBatchDirs(spark, delta, ddl)
      .selectExpr("split", "lang", "shard", "doc_id", "btoks", "rn",
        "bin", "toks")
      .collect().map(_.toString).sorted.toSeq
    val once = deltaRows()
    // ONLY the doc passing BOTH gates reached a shard — the encode
    // consumes the jointly-routed admit DIRECTORY
    val shardDocs = graft.queries.Tables.loadBatchDirs(spark, delta, ddl)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(shardDocs == Set(1L), shardDocs.toString)
    // the routed audit trail records WHICH gate rejected each doc
    val verdicts = spark.read.format("columnfile").load(s"$routes/batch=0")
      .unionByName(
        spark.read.format("columnfile").load(s"$routes/batch=1"))
      .selectExpr("doc_id", "cls", "verdict", "adm")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getString(2), r.getAs[Number](3).longValue))
      .toMap
    assert(verdicts(1L) == ((1L, "new", 1L)), verdicts(1L).toString)
    assert(verdicts(2L)._1 == 0L && verdicts(2L)._3 == 0L)
    assert(verdicts(3L) == ((1L, "exact", 0L)), verdicts(3L).toString)
    assert(verdicts(4L) == ((1L, "dup", 0L)), verdicts(4L).toString)
    // REPLAY batch 0: both routes and delta overwrite atomically
    run(all.where("doc_id <= 2"), 0L)
    assert(deltaRows() == once, "replay changed the shard artifact")
  }

  test("p26: the portable tokenizer derives ONLY from the registry " +
    "corpus — a poisoned serving corpus cannot change a fresh build — " +
    "and the encode consumes exactly the frozen merges") {
    val sp = spark; import sp.implicits._
    // inline recompute from the registry parquet (t16's own spelling)
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .createOrReplaceTempView("p26t_docs")
    val want = ExtQueries.TestSql.mergePairsOver(spark, "p26t_docs")
    assert(want.length == 3 && want.exists(_.nonEmpty), s"registry: $want")
    // poison the serving corpus: its own training picks different merges
    val poison = Seq(
      (1L, "qq qq qq qq qq", "en"),
      (2L, "qq qq qq zz", "en"),
      (3L, "zz zz qq", "en"))
    poison.toDF("doc_id", "text", "lang")
      .createOrReplaceTempView("documents")
    val own = ExtQueries.TestSql.mergePairsOver(spark, "documents")
    assert(own != want, "poison fixture trains to the registry's merges")
    // FRESH build with the poisoned view registered: the registry
    // model must come out anyway — the builder cannot see `documents`
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
      f.delete(); ()
    }
    rm(new java.io.File(ExtQueries.TestSql.p26MergesCacheDir))
    val got = ExtQueries.TestSql.p26MergePairs(spark)
    assert(got == want,
      s"fresh build leaked the serving corpus: $got vs $want")
    // encode of the poisoned serving view == the trusted frozen-merges
    // encode under the SAME pairs (p22's batch encode, spec-proven)
    val viaP26 = ExtQueries.TestSql.p26Encode(spark)
      .collect().map(_.toString).sorted.toSeq
    val viaBatch = ExtQueries.p22EncodeBatch(
        spark.table("documents").selectExpr("doc_id", "lang", "text"), got)
      .collect().map(_.toString).sorted.toSeq
    assert(viaP26 == viaBatch)
  }

  test("d21: just-under-threshold Jaccard pair is not ground truth; " +
    "identical pair is always an LSH hit; cross-cell near-dup is " +
    "measured as SemDeDup recall loss") {
    val sp = spark; import sp.implicits._
    // Jaccard plants (per-mille, exact integers): docs 1/2 identical
    // (J=1000); docs 3/4 share an 8-word block -> 6 shared shingles of
    // 10 each, union 14 -> J = 428 (JUST UNDER the 500 gate); docs 5/6
    // share a 9-word block -> 7 of 10, union 13 -> J = 538 (in the
    // [500, 600) bucket only).
    val x8 = (1 to 8).map(i => s"x$i").mkString(" ")
    val y9 = (1 to 9).map(i => s"y$i").mkString(" ")
    Seq(
      (1L, "a b c d e f g h i j k l", "en"),
      (2L, "a b c d e f g h i j k l", "en"),
      (3L, s"pa pb $x8 pc pd", "en"),
      (4L, s"ra rb $x8 rc rd", "en"),
      (5L, s"ua ub $y9 uc", "en"),
      (6L, s"va vb $y9 vc", "en"))
      .toDF("doc_id", "text", "lang").createOrReplaceTempView("documents")
    // Cosine plants: v0/v1 nearly parallel INSIDE label-0's cell
    // (cos ~ 0.999); v2 is label 1 and near-dup of v0/v1 only at the
    // 0.4 tier (cos ~ 0.42) — a CROSS-CELL near-dup the cell partition
    // must lose; v3 orthogonal filler keeping label 1's centroid away.
    def vec(pairs: (Int, Double)*): Array[Float] = {
      val a = Array.fill(64)(0.0f)
      pairs.foreach { case (i, v) => a(i) = v.toFloat }; a
    }
    Seq(
      (0L, 0L, vec(0 -> 1.0, 1 -> 0.30)),
      (1L, 0L, vec(0 -> 1.0, 1 -> 0.29)),
      (2L, 1L, vec(0 -> 0.15, 1 -> 1.0)),
      (3L, 1L, vec(2 -> 1.0)))
      .toDF("vec_id", "label", "embedding")
      .createOrReplaceTempView("embeddings")

    val rows = ExtQueries.TestSql.dedupRecall(spark).collect()
      .map(r => ((r.getString(0), r.getLong(1)), (r.getLong(2), r.getLong(3))))
      .toMap
    // LSH leg: thr 500 sees the identical pair (both orders) AND the
    // J=538 pair — the 428 pair is NOT ground truth (4, not 6). The
    // identical pair shares every band, so >= 2 hits always; the 538
    // pair's bands may or may not collide (that S-curve shape is the
    // thing being measured).
    val (t500, h500) = rows(("minhash_lsh", 500L))
    assert(t500 == 4L, s"500: $t500")
    assert(h500 >= 2L && h500 <= t500)
    for (thr <- Seq(600L, 700L, 800L, 900L))
      assert(rows(("minhash_lsh", thr)) == ((2L, 2L)),
        s"$thr: ${rows(("minhash_lsh", thr))}")
    // Sem legs share ONE exact ground truth: 0<->1 (cos ~ .999) at
    // every tier, plus the cross-cell 0<->2 / 1<->2 pairs at 400 only.
    for (m <- Seq("semdedup_cells", "semdedup_learned")) {
      assert(rows((m, 400L))._1 == 6L, s"$m 400: ${rows((m, 400L))}")
      assert(rows((m, 450L))._1 == 2L && rows((m, 480L))._1 == 2L)
    }
    // the label-cell partition: same-cell 0<->1 hit, cross-cell pairs
    // missed — recall loss is VISIBLE at 400 (2 of 6), perfect at 450+
    assert(rows(("semdedup_cells", 400L))._2 == 2L)
    assert(rows(("semdedup_cells", 450L))._2 == 2L)
    assert(rows(("semdedup_cells", 480L))._2 == 2L)
  }

  test("d22: geometry candidate sets nest (recall monotone in bands " +
    "in the uncapped regime), ground truth is geometry-invariant, " +
    "identical pair hits everywhere") {
    val sp = spark; import sp.implicits._
    // d21's Jaccard plants: identical pair (1,2), just-under pair
    // (3,4; J=428 — in NO geometry's ground truth), mid pair (5,6;
    // J=538 — ground truth at thr=500 only). Every bucket on this
    // 6-doc fixture is far below HotBucketCap, so the nesting claim
    // asserted below is the UNCAPPED-regime one: with per-(bands, bk)
    // caps active, a hot corpus can cap away all of a pair's fine
    // buckets while its coarse bucket survives (see the d22 scaladoc).
    val x8 = (1 to 8).map(i => s"x$i").mkString(" ")
    val y9 = (1 to 9).map(i => s"y$i").mkString(" ")
    Seq(
      (1L, "a b c d e f g h i j k l", "en"),
      (2L, "a b c d e f g h i j k l", "en"),
      (3L, s"pa pb $x8 pc pd", "en"),
      (4L, s"ra rb $x8 rc rd", "en"),
      (5L, s"ua ub $y9 uc", "en"),
      (6L, s"va vb $y9 vc", "en"))
      .toDF("doc_id", "text", "lang").createOrReplaceTempView("documents")
    val rows = ExtQueries.TestSql.lshBandSweep(spark).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), (r.getLong(2), r.getLong(3))))
      .toMap
    // every (bands, thr) cell exists with the SAME ground truth count
    for (thr <- Seq(500L, 600L, 700L, 800L, 900L)) {
      val wantTrue = if (thr == 500L) 4L else 2L
      for (b <- Seq(2L, 4L, 8L)) {
        val (t, h) = rows((b, thr))
        assert(t == wantTrue, s"(b=$b, thr=$thr): n_true $t != $wantTrue")
        // the identical pair shares every band at every geometry
        assert(h >= 2L && h <= t, s"(b=$b, thr=$thr): n_hit $h")
      }
      // nesting: aligned band boundaries make coarse candidates a
      // subset of fine ones — hits non-decreasing in bands
      val curve = Seq(2L, 4L, 8L).map(b => rows((b, thr))._2)
      assert(curve == curve.sorted,
        s"thr=$thr: recall not monotone in bands: $curve")
    }
  }

  test("d26: the Pareto surface carries d22's exact recall cells plus " +
    "cost columns that are monotone in bands (uncapped) and constant " +
    "across thresholds") {
    val sp = spark; import sp.implicits._
    // d22's uncapped fixture verbatim — the recall half of the
    // surface must read exactly what d22 reads (shared gex spelling)
    val x8 = (1 to 8).map(i => s"x$i").mkString(" ")
    val y9 = (1 to 9).map(i => s"y$i").mkString(" ")
    Seq(
      (1L, "a b c d e f g h i j k l", "en"),
      (2L, "a b c d e f g h i j k l", "en"),
      (3L, s"pa pb $x8 pc pd", "en"),
      (4L, s"ra rb $x8 rc rd", "en"),
      (5L, s"ua ub $y9 uc", "en"),
      (6L, s"va vb $y9 vc", "en"))
      .toDF("doc_id", "text", "lang").createOrReplaceTempView("documents")
    val d22rows = ExtQueries.TestSql.lshBandSweep(spark).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), (r.getLong(2), r.getLong(3))))
      .toMap
    val rows = ExtQueries.TestSql.lshPareto(spark).collect()
      .map(r => ((r.getLong(0), r.getLong(1)),
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))))
      .toMap
    assert(rows.keySet == d22rows.keySet)
    for (((b, t), (nt, nh, emit, cand)) <- rows) {
      // recall cells identical to d22's (one candidate spelling)
      assert((nt, nh) == d22rows((b, t)),
        s"(b=$b, thr=$t): recall diverged from d22")
      // the identical pair collides in some band of every geometry,
      // so every geometry has at least one candidate pair, and
      // emissions dominate distinct pairs by construction
      assert(cand >= 1L && emit >= cand, s"(b=$b, thr=$t): $emit/$cand")
    }
    for (b <- Seq(2L, 4L, 8L)) {
      // cost is a per-geometry property: constant across thresholds
      assert(Seq(500L, 600L, 700L, 800L, 900L)
        .map(t => (rows((b, t))._3, rows((b, t))._4)).distinct.size == 1,
        s"b=$b: cost varies with thr")
    }
    // uncapped: aligned boundaries nest candidates, and a coarse-band
    // collision implies >= 2 fine-band collisions — both cost columns
    // monotone non-decreasing in bands
    val emits = Seq(2L, 4L, 8L).map(b => rows((b, 500L))._3)
    val cands = Seq(2L, 4L, 8L).map(b => rows((b, 500L))._4)
    assert(emits == emits.sorted, s"emissions not monotone: $emits")
    assert(cands == cands.sorted, s"candidates not monotone: $cands")
  }

  test("d24: the pigeonhole guarantee is exact (B bands never miss a " +
    "pair at hamming <= B-1), hits are monotone in bands (uncapped), " +
    "and ground truth is geometry-invariant") {
    val sp = spark; import sp.implicits._
    // d22's corpus: the identical pair (1,2) is a hamming-0 GT pair
    // (both orders), so every (bands, thr) cell is populated; the
    // block-sharing pairs land at whatever deterministic distance the
    // shingle simhash gives them — the assertions below hold for ANY
    // distances, which is the point (they are BY-CONSTRUCTION claims).
    val x8 = (1 to 8).map(i => s"x$i").mkString(" ")
    val y9 = (1 to 9).map(i => s"y$i").mkString(" ")
    Seq(
      (1L, "a b c d e f g h i j k l", "en"),
      (2L, "a b c d e f g h i j k l", "en"),
      (3L, s"pa pb $x8 pc pd", "en"),
      (4L, s"ra rb $x8 rc rd", "en"),
      (5L, s"ua ub $y9 uc", "en"),
      (6L, s"va vb $y9 vc", "en"))
      .toDF("doc_id", "text", "lang").createOrReplaceTempView("documents")
    val rows = ExtQueries.TestSql.simhashSweep(spark).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), (r.getLong(2), r.getLong(3))))
      .toMap
    val thrs = Seq(0L, 1L, 3L, 5L, 7L)
    for (b <- Seq(2L, 4L, 8L); t <- thrs) {
      val (nt, nh) = rows((b, t))
      // the identical pair is ground truth (both orders) at every
      // threshold and shares every band at every geometry
      assert(nt >= 2L, s"(b=$b, thr=$t): n_true $nt")
      assert(nh >= 2L && nh <= nt, s"(b=$b, thr=$t): n_hit $nh of $nt")
      // pigeonhole: <= B-1 differing bits cannot touch all B bands
      if (t <= b - 1)
        assert(nh == nt, s"pigeonhole broken at (b=$b, thr=$t): $nh/$nt")
    }
    for (t <- thrs) {
      assert(Seq(2L, 4L, 8L).map(b => rows((b, t))._1).distinct.size == 1,
        s"thr=$t: ground truth varies by geometry")
      val curve = Seq(2L, 4L, 8L).map(b => rows((b, t))._2)
      assert(curve == curve.sorted,
        s"thr=$t: hits not monotone in bands: $curve")
    }
  }

  test("d25: the width dial moves the similarity DEFINITION — a " +
    "rotated pair is a near-dup at k=2/3 and vanishes at k=5; " +
    "identical docs survive every width; thresholds nest per width") {
    val sp = spark; import sp.implicits._
    // docs 0/1 share every word in rotated order: bigram Jaccard
    // 6/8 = 750 permille, trigram 4/8 = 500, 5-gram 0/8 = 0 — the
    // planted pair crosses thr=500 between k=3 and k=5 and thr=700
    // between k=2 and k=3. Docs 2/3 are identical (1000 at every
    // width, disjoint vocab). Doc 4 is under every width's guard.
    Seq(
      (0L, "a b c d e f g h", "en"),
      (1L, "e f g h a b c d", "en"),
      (2L, "p q r s t u v w", "en"),
      (3L, "p q r s t u v w", "en"),
      (4L, "z", "en"))
      .toDF("doc_id", "text", "lang").createOrReplaceTempView("documents")
    val rows = ExtQueries.TestSql.shingleWidthSweep(spark).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), (r.getLong(2), r.getLong(3))))
      .toMap
    // ground truth counts BOTH directions of each unordered pair
    // (the sample holds all docs): identical pair = 2 rows always;
    // the rotated pair's 2 rows appear exactly where its width-k
    // Jaccard clears the threshold
    assert(rows((2L, 500L))._1 == 4L && rows((2L, 700L))._1 == 4L &&
      rows((2L, 900L))._1 == 2L, s"k=2 curve: $rows")
    assert(rows((3L, 500L))._1 == 4L && rows((3L, 700L))._1 == 2L,
      s"k=3 curve: $rows")
    assert(Seq(500L, 700L, 900L).forall(t => rows((5L, t))._1 == 2L),
      s"k=5 curve: $rows")
    for (k <- Seq(2L, 3L, 5L)) {
      // per width, thresholds filter a subset: monotone non-increasing
      val curve = Seq(500L, 700L, 900L).map(t => rows((k, t))._1)
      assert(curve == curve.sorted.reverse,
        s"k=$k: n_true not monotone in thr: $curve")
      // hits bounded by truth, and the identical pair (equal
      // signatures => every band shared) is always caught
      Seq(500L, 700L, 900L).foreach { t =>
        val (nt, nh) = rows((k, t))
        assert(nh <= nt && nh >= 2L, s"(k=$k, thr=$t): $nh/$nt")
      }
    }
  }

  test("d27: the SimHash Pareto surface carries d24's exact recall " +
    "cells plus cost columns monotone in bands (uncapped) and " +
    "constant across thresholds") {
    val sp = spark; import sp.implicits._
    // d24's fixture verbatim — the recall half must read exactly what
    // d24 reads (shared sx spelling)
    val x8 = (1 to 8).map(i => s"x$i").mkString(" ")
    val y9 = (1 to 9).map(i => s"y$i").mkString(" ")
    Seq(
      (1L, "a b c d e f g h i j k l", "en"),
      (2L, "a b c d e f g h i j k l", "en"),
      (3L, s"pa pb $x8 pc pd", "en"),
      (4L, s"ra rb $x8 rc rd", "en"),
      (5L, s"ua ub $y9 uc", "en"),
      (6L, s"va vb $y9 vc", "en"))
      .toDF("doc_id", "text", "lang").createOrReplaceTempView("documents")
    val d24rows = ExtQueries.TestSql.simhashSweep(spark).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), (r.getLong(2), r.getLong(3))))
      .toMap
    val rows = ExtQueries.TestSql.simhashPareto(spark).collect()
      .map(r => ((r.getLong(0), r.getLong(1)),
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))))
      .toMap
    assert(rows.keySet == d24rows.keySet)
    for (((b, t), (nt, nh, emit, cand)) <- rows) {
      assert((nt, nh) == d24rows((b, t)),
        s"(b=$b, thr=$t): recall diverged from d24")
      // the identical pair shares every band, so every geometry has
      // candidates, and emissions dominate distinct pairs
      assert(cand >= 1L && emit >= cand, s"(b=$b, thr=$t): $emit/$cand")
    }
    for (b <- Seq(2L, 4L, 8L)) {
      assert(Seq(0L, 1L, 3L, 5L, 7L)
        .map(t => (rows((b, t))._3, rows((b, t))._4)).distinct.size == 1,
        s"b=$b: cost varies with thr")
    }
    // uncapped: aligned pigeonhole boundaries nest candidates and
    // multiply collisions — both cost columns monotone in bands
    val emits = Seq(2L, 4L, 8L).map(b => rows((b, 0L))._3)
    val cands = Seq(2L, 4L, 8L).map(b => rows((b, 0L))._4)
    assert(emits == emits.sorted, s"emissions not monotone: $emits")
    assert(cands == cands.sorted, s"candidates not monotone: $cands")
  }

  test("m09: the image band sweep keeps d24's guarantees — pigeonhole " +
    "exact on guaranteed cells, hits monotone in bands, ground truth " +
    "geometry-invariant") {
    val sp = spark; import sp.implicits._
    // two planted image families (doc_id div 5 groups): within a
    // group every doc perturbs ONE pixel of the base raster, so every
    // within-group pair sits at hamming <= 4 (a pixel touches one 2x2
    // grid cell -> at most 2 gradient bits) — the thr=7 cells are
    // populated BY CONSTRUCTION of the plant, whatever the exact
    // distances come out to be
    ((0L to 4L) ++ (10L to 14L)).map(i => (i, s"doc$i", "en"))
      .toDF("doc_id", "text", "lang").createOrReplaceTempView("documents")
    val rows = ExtQueries.TestSql.imageBandSweep(spark).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), (r.getLong(2), r.getLong(3))))
      .toMap
    val thrs = Seq(0L, 1L, 3L, 7L)
    for (b <- Seq(2L, 4L, 8L); t <- thrs) {
      val (nt, nh) = rows.getOrElse((b, t), (0L, 0L))
      assert(nh <= nt, s"(b=$b, thr=$t): $nh > $nt")
      // pigeonhole: <= B-1 differing bits cannot touch all B bands
      if (t <= b - 1 && nt > 0)
        assert(nh == nt, s"pigeonhole broken at (b=$b, thr=$t): $nh/$nt")
    }
    // the plant guarantees pairs at hamming <= 4: thr=7 is populated
    assert(Seq(2L, 4L, 8L).forall(b => rows.get((b, 7L)).exists(_._1 >= 2L)),
      s"thr=7 cells unexpectedly empty: $rows")
    for (t <- thrs) {
      val cells = Seq(2L, 4L, 8L).map(b => rows.getOrElse((b, t), (0L, 0L)))
      assert(cells.map(_._1).distinct.size == 1,
        s"thr=$t: ground truth varies by geometry")
      val curve = cells.map(_._2)
      assert(curve == curve.sorted,
        s"thr=$t: hits not monotone in bands: $curve")
    }
  }

  test("v29: the policy pick IS the surface's argmin under the recall " +
    "floor, and the served rows are exactly that cell's top-5") {
    val dir = "/root/testdata/sf0.001"
    val floor = ExtQueries.TestSql.recallPolicyFloorPm
    val surface = graft.SparkEntry.queries("v25_kmeans_pareto")(spark, dir)
      .collect()
      .map(r => ((r.getLong(0), r.getLong(1)),
        (r.getLong(2), r.getLong(4)))) // (k, nprobe) -> (n_cand, recall_pm)
    // the policy's contract, recomputed independently: cheapest cell
    // meeting the floor, (k, nprobe)-ascending ties; else the
    // highest-recall cell, cheapest first
    val qualifying = surface.filter(_._2._2 >= floor)
    val pick =
      if (qualifying.nonEmpty)
        qualifying.minBy { case ((k, np), (cand, _)) => (cand, k, np) }._1
      else
        surface.minBy { case ((k, np), (cand, pm)) => (-pm, cand, k, np) }._1
    assert(qualifying.nonEmpty,
      s"sf0.001 surface should have a qualifying cell: ${surface.toSeq}")
    val served = graft.SparkEntry.queries("v29_recall_policy")(spark, dir)
      .collect().map(r =>
        ((r.getLong(0), r.getLong(1)), (r.getLong(2), r.getLong(3))))
    assert(served.nonEmpty, "policy served nothing")
    assert(served.map(_._1).distinct.toSeq == Seq(pick),
      s"policy picked ${served.map(_._1).distinct.toSeq}, argmin is $pick")
    // and the served rows are EXACTLY the picked cell's top-5 set
    val want = ExtQueries.TestSql.kmCellAnn(spark, pick._1, pick._2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(served.map(_._2).toSet == want,
      s"served ${served.length} rows diverge from cell $pick's ann")
  }

  test("d28: the band policy's pick is d26's argmin at the production " +
    "threshold, and the served pairs are d03's pairs at that geometry") {
    val sp = spark; import sp.implicits._
    // d26's uncapped fixture verbatim — the policy must read the same
    // surface d26 publishes
    val x8 = (1 to 8).map(i => s"x$i").mkString(" ")
    val y9 = (1 to 9).map(i => s"y$i").mkString(" ")
    Seq(
      (1L, "a b c d e f g h i j k l", "en"),
      (2L, "a b c d e f g h i j k l", "en"),
      (3L, s"pa pb $x8 pc pd", "en"),
      (4L, s"ra rb $x8 rc rd", "en"),
      (5L, s"ua ub $y9 uc", "en"),
      (6L, s"va vb $y9 vc", "en"))
      .toDF("doc_id", "text", "lang").createOrReplaceTempView("documents")
    val thr = ExtQueries.TestSql.dedupPolicyThrPm
    val floor = ExtQueries.TestSql.dedupPolicyFloorPm
    // the contract, recomputed independently from d26's surface
    val surface = ExtQueries.TestSql.lshPareto(spark).collect()
      .filter(_.getLong(1) == thr)
      .map(r => (r.getLong(0), (r.getLong(2), r.getLong(3), r.getLong(5))))
      .toMap // bands -> (n_true, n_hit, n_cand)
    val qualifying = surface.filter { case (_, (nt, nh, _)) =>
      nt == 0L || nh * 1000 >= nt * floor }
    val pick =
      if (qualifying.nonEmpty)
        qualifying.minBy { case (b, (_, _, cand)) => (cand, b) }._1
      else surface.minBy { case (b, (nt, nh, cand)) =>
        (-(1000 * nh) / nt, cand, b) }._1
    val served = ExtQueries.TestSql.lshPolicy(spark).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2))))
    assert(served.nonEmpty, "policy served nothing on a dup-rich fixture")
    assert(served.map(_._1).distinct.toSeq == Seq(pick),
      s"policy picked ${served.map(_._1).distinct.toSeq}, argmin is $pick")
    // served pairs == d03's production pairs at the picked geometry
    val want = ExtQueries.lshGeomPairsDF(spark, pick.toInt)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(served.map(_._2).toSet == want,
      s"served pairs diverge from d03@$pick: ${served.map(_._2).toSet} " +
        s"vs $want")
    // the identical planted pair is always served
    assert(served.map(_._2).contains((1L, 2L)))
  }

  test("d29: the collapsed serve picks d28's geometry, emits rep pairs " +
    "with member multiplicities, and stays bounded under a replica " +
    "clique where d28's raw serve is quadratic") {
    val sp = spark; import sp.implicits._
    // a 5-doc exact-replica clique (the ~n^2 raw-serve case) plus one
    // genuine near-dup pair of distinct texts
    val x8 = (1 to 8).map(i => s"x$i").mkString(" ")
    val clique = (1L to 5L).map(i => (i, "a b c d e f g h i j k l", "en"))
    val near = Seq(
      (6L, s"pa pb $x8 pc pd", "en"),
      (7L, s"ra rb $x8 rc rd", "en"))
    (clique ++ near).toDF("doc_id", "text", "lang")
      .createOrReplaceTempView("documents")
    val raw = ExtQueries.TestSql.lshPolicy(spark).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2))))
    val collapsed = ExtQueries.TestSql.lshPolicyCollapsed(spark).collect()
      .map(r => (r.getLong(0),
        ((r.getLong(1), r.getLong(2)), (r.getLong(3), r.getLong(4)))))
    // the raw serve pays the clique: all C(5,2)=10 within-clique pairs
    val rawPairs = raw.map(_._2).toSet
    assert((1L to 5L).combinations(2).map(c => (c(0), c(1)))
      .forall(rawPairs.contains), s"raw serve missing clique pairs: $rawPairs")
    val pick = raw.map(_._1).distinct.toSeq
    assert(pick.size == 1)
    // the CONTRACT, recomputed independently: d03's pairs at the picked
    // geometry restricted to representative endpoints (reps here:
    // 1 = the clique's min id, 6, 7), each with the groups' sizes —
    // the rep restriction commutes with the self-join because the
    // hot-bucket cap is computed on the same full gex either way
    val members = Map(1L -> 5L, 6L -> 1L, 7L -> 1L)
    val want = ExtQueries.lshGeomPairsDF(spark, pick.head.toInt)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .filter { case (i, j) => members.contains(i) && members.contains(j) }
      .map { case (i, j) => ((i, j), (members(i), members(j))) }
      .toMap
    val colPairs = collapsed.map(_._2).toMap
    assert(colPairs == want,
      s"collapsed serve diverges from the rep-restricted contract: " +
        s"$colPairs vs $want")
    // same pick whenever the collapsed serve has rows to carry it
    if (collapsed.nonEmpty)
      assert(collapsed.map(_._1).distinct.toSeq == pick)
    // bounded: the clique contributes NO pairs (one representative),
    // so the collapsed answer strictly undercuts the raw one
    assert(!colPairs.keySet.exists { case (i, j) => i <= 5 && j <= 5 },
      s"collapsed serve emits within-clique pairs: ${colPairs.keySet}")
    assert(collapsed.size < raw.size,
      s"collapsed (${collapsed.size}) must undercut raw (${raw.size})")
  }

  test("m10: the image Pareto surface carries m09's exact recall " +
    "cells plus cost columns constant across thresholds and monotone " +
    "in bands (uncapped)") {
    val sp = spark; import sp.implicits._
    // m09's planted-family fixture verbatim — the recall half of the
    // surface must read exactly what m09 reads (shared sx spelling)
    ((0L to 4L) ++ (10L to 14L)).map(i => (i, s"doc$i", "en"))
      .toDF("doc_id", "text", "lang").createOrReplaceTempView("documents")
    val m09rows = ExtQueries.TestSql.imageBandSweep(spark).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), (r.getLong(2), r.getLong(3))))
      .toMap
    val rows = ExtQueries.TestSql.imagePareto(spark).collect()
      .map(r => ((r.getLong(0), r.getLong(1)),
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))))
      .toMap
    assert(rows.keySet == m09rows.keySet, s"cells: ${rows.keySet}")
    for (((b, t), (nt, nh, emit, cand)) <- rows) {
      // recall cells identical to m09's (one candidate spelling)
      assert((nt, nh) == m09rows((b, t)),
        s"(b=$b, thr=$t): recall diverged from m09")
      // emissions dominate distinct pairs by construction
      assert(emit >= cand, s"(b=$b, thr=$t): $emit < $cand")
    }
    for (b <- Seq(2L, 4L, 8L)) {
      // cost is a per-geometry property: constant across thresholds
      assert(rows.keySet.filter(_._1 == b).toSeq
        .map(k => (rows(k)._3, rows(k)._4)).distinct.size == 1,
        s"b=$b: cost varies with thr")
    }
    // uncapped (10-doc fixture, every bucket far below HotBucketCap):
    // aligned band splits nest candidates coarse ⊆ fine and shorter
    // bands only add collisions — both cost columns monotone in bands
    val someThr = rows.keySet.map(_._2).head
    val emits = Seq(2L, 4L, 8L).map(b => rows((b, someThr))._3)
    val cands = Seq(2L, 4L, 8L).map(b => rows((b, someThr))._4)
    assert(emits == emits.sorted, s"emissions not monotone: $emits")
    assert(cands == cands.sorted, s"candidates not monotone: $cands")
    // the planted one-pixel families guarantee within-group near-dups:
    // the fine geometry must surface at least one candidate pair
    assert(rows((8L, someThr))._4 >= 1L, s"no candidates at 8 bands")
  }

  test("d23: tau-sweep counts nest and flip at BOTH adjacent levels; " +
    "ground truth is method-invariant; drop volume tracks the dial") {
    val sp = spark; import sp.implicits._
    // Cosine plants (label cells {0,1,4,5} / {2,3}; centroid
    // assignment reproduces the labels — verified by hand):
    //   (0,1) cos=.9996  same-cell    -> GT + hit + drop at EVERY tau
    //   (0,2),(1,2) cos=.426/.418 cross-cell -> GT at 300/400, never hit
    //   (0,4),(1,4) cos=.428/.429 same-cell  -> flips OFF between 400/500
    //   (0,5),(1,5) cos=.348/.349 same-cell  -> flips OFF between 300/400
    // Ordered-pair GT: 14 / 10 / 2. Cells hits: 10 / 6 / 2 (the two
    // cross-cell pairs are the measured loss). Drops (corpus-wide,
    // min-id-wins): {1,4,5} / {1,4} / {1} = 3 / 2 / 1.
    def vec(pairs: (Int, Double)*): Array[Float] = {
      val a = Array.fill(64)(0.0f)
      pairs.foreach { case (i, v) => a(i) = v.toFloat }; a
    }
    Seq(
      (0L, 0L, vec(0 -> 1.0, 1 -> 0.30)),
      (1L, 0L, vec(0 -> 1.0, 1 -> 0.29)),
      (2L, 1L, vec(0 -> 0.15, 1 -> 1.0)),
      (3L, 1L, vec(2 -> 1.0)),
      (4L, 0L, vec(0 -> 0.5, 3 -> 1.0)),
      (5L, 0L, vec(0 -> 0.39, 4 -> 1.0)))
      .toDF("vec_id", "label", "embedding")
      .createOrReplaceTempView("embeddings")
    val rows = ExtQueries.TestSql.semTauSweep(spark).collect()
      .map(r => ((r.getString(0), r.getLong(1)),
        (r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(rows.keySet == (for {
      m <- Set("semdedup_cells", "semdedup_learned")
      t <- Set(300L, 400L, 500L)
    } yield (m, t)), s"cells: ${rows.keySet}")
    // one shared ground truth: n_true identical across methods
    for (t <- Seq(300L, 400L, 500L))
      assert(rows(("semdedup_cells", t))._1 ==
        rows(("semdedup_learned", t))._1, s"GT diverges at tau=$t")
    // the exact label-cell curve (flip pairs at .43 and .35)
    assert(rows(("semdedup_cells", 300L)) == ((14L, 10L, 3L)))
    assert(rows(("semdedup_cells", 400L)) == ((10L, 6L, 2L)))
    assert(rows(("semdedup_cells", 500L)) == ((2L, 2L, 1L)))
    // nesting: every count monotone non-increasing in tau, both
    // methods (filter levels select subsets BY CONSTRUCTION)
    for {
      m <- Seq("semdedup_cells", "semdedup_learned")
      (f, nm) <- Seq[((Long, Long, Long)) => Long](_._1, _._2, _._3)
        .zip(Seq("n_true", "n_hit", "n_dropped"))
    } {
      val curve = Seq(300L, 400L, 500L).map(t => f(rows((m, t))))
      assert(curve == curve.sorted.reverse,
        s"$m $nm not monotone non-increasing: $curve")
    }
  }

  test("p22/p23: batch-local delta packing preserves per-doc encodes " +
    "(consumer-stat independence); compaction repack equals the " +
    "canonical global pack") {
    val sp = spark; import sp.implicits._
    // docs big enough that one (split, lang, shard) group crosses the
    // 2048-token bin boundary: doc_ids 0,32,64,96 share shard 0; only
    // the pure-[a-z] words survive the encode filter, and under the
    // planted merges toka=1 symbol, tokb=2 — 250 repeats ≈ 750
    // tokens/doc, so the shard-0 cum crosses 2048 at its 4th doc —
    // bins and rn are both exercised.
    val body = (1 to 250).map(i => s"toka tokb w${i % 7}x").mkString(" ")
    val docs = Seq(0L, 32L, 64L, 96L, 1L, 33L, 65L)
      .map(id => (id, "en", s"doc$id $body"))
    val all = docs.toDF("doc_id", "lang", "text")
    val mps = Seq("t o", "to k", "tok a") // a frozen 3-merge chain
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
      (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6),
        r.getSeq[Long](7).toList))
    // canonical: the WHOLE corpus as one batch == the full-rebuild pack
    val whole = rows(ExtQueries.p22EncodeBatch(all, mps))
    assert(whole.length == docs.length)
    assert(whole.exists(_._7 > 0L), // some doc starts in bin >= 1
      s"fixture never crosses the bin boundary: ${whole.map(_._7).toSeq}")
    // delta shape: the same corpus re-chunked into three micro-batches
    val chunks = Seq(Seq(0L, 33L), Seq(32L, 64L, 1L), Seq(96L, 65L))
      .map(ids => all.where(ids.map(i => s"doc_id = $i").mkString(" OR ")))
    val union = chunks.flatMap(c => rows(ExtQueries.p22EncodeBatch(c, mps)))
    // per-doc ENCODE columns identical (everything a consumer stat
    // reads: split, lang, shard, doc_id, btoks, toks) ...
    def enc(r: (String, String, Long, Long, Long, Long, Long, List[Long])) =
      (r._1, r._2, r._3, r._4, r._5, r._8)
    assert(union.map(enc).toSet == whole.map(enc).toSet)
    // ... while rn/bin are batch-local (the pack is NOT global: doc 96
    // is its chunk's first shard-0 row, rn=1; globally it is rn=4)
    assert(union.toSet != whole.toSet,
      "fixture too small: batch-local pack coincided with the global one")
    // compaction: repack of the union == the canonical global pack,
    // rn/bin and all
    val unionDf = union.toDF(
      "split", "lang", "shard", "doc_id", "btoks", "rn", "bin", "toks")
    val repacked = rows(ExtQueries.p23Repack(unionDf))
    assert(repacked.toSet == whole.toSet,
      s"repack diverges from canonical:\n${repacked.toSet.diff(whole.toSet)}")
  }
}
