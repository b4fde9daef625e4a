package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.engine.Tables
import graft.operators.{AsofJoin, Dedup, Multimodal, Packing, RangeJoin, Sampling, Similarity, TextAnalysis}

class OperatorsSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private lazy val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy dog"),      // exact dup of 1
    (3L, "the quick brown fox jumps over the lazy cat"),      // near dup of 1
    (4L, "completely unrelated text about spark engines")
  ).toDF("doc_id", "text")

  test("exact dedup finds the duplicate group") {
    val r = Dedup.exact(docs, "doc_id", "text").filter($"n_copies" > 1).collect()
    assert(r.length == 1)
    assert(r(0).getAs[Long]("n_copies") == 2)
    assert(r(0).getAs[Long]("keeper") == 1L)
  }

  test("asof join: inclusive match, forward fill, and null before first right row") {
    val quotes = Seq( // (key, time, price)
      ("A", 10L, 100.0), ("A", 20L, 110.0), ("B", 15L, 50.0)
    ).toDF("qk", "qt", "price")
    val trades = Seq( // (key, time, id)
      ("A", 5L, 1L),   // before any quote -> null
      ("A", 10L, 2L),  // equal time -> inclusive match 100.0
      ("A", 25L, 3L),  // after both -> latest 110.0
      ("B", 16L, 4L),  // -> 50.0
      ("C", 99L, 5L)   // key with no quotes -> null
    ).toDF("tk", "tt", "id")
    val r = AsofJoin.asofJoin(trades, quotes, "tk", "qk", "tt", "qt", Seq("price"))
      .orderBy("id").collect().map(x => (x.getAs[Long]("id"), Option(x.getAs[Any]("price"))))
    assert(r.toSeq == Seq(
      (1L, None), (2L, Some(100.0)), (3L, Some(110.0)), (4L, Some(50.0)), (5L, None)))
  }

  test("deterministic sampling: reproducible, ~rate-sized, stable under repartition") {
    val ids = (1L to 10000L).toDF("id")
    val s1 = Sampling.deterministicSample(ids, "id", 0.1)
    val s2 = Sampling.deterministicSample(ids.repartition(13), "id", 0.1)
    val kept1 = s1.collect().map(_.getLong(0)).toSet
    assert(kept1 == s2.collect().map(_.getLong(0)).toSet) // partition-stable
    assert(math.abs(kept1.size - 1000) < 150, s"got ${kept1.size}")
    val strat = Sampling.stratifiedSample(
      ids.withColumn("s", when($"id" % 2 === 0, "a").otherwise("b")),
      "id", "s", Map("a" -> 0.0), default = 1.0)
    assert(strat.filter($"s" === "a").count() == 0)
    assert(strat.filter($"s" === "b").count() == 5000)
  }

  test("split: partitions the corpus, covers every row, stable under repartition") {
    val ids = (1L to 10000L).toDF("id")
    val splits = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
    val assigned = Sampling.split(ids, "id", splits)
    // total partition: every row gets exactly one split
    assert(assigned.count() == 10000)
    val byName = assigned.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byName.keySet == Set("train", "val", "test"))
    assert(math.abs(byName("train") - 8000) < 400, s"train=${byName("train")}")
    assert(math.abs(byName("val") - 1000) < 200, s"val=${byName("val")}")
    // a row never migrates between splits when the layout changes
    val again = Sampling.split(ids.repartition(17), "id", splits)
    assert(assigned.orderBy("id").collect().map(_.getString(1)).toSeq ==
      again.orderBy("id").collect().map(_.getString(1)).toSeq)
    intercept[IllegalArgumentException](Sampling.split(ids, "id", Seq("a" -> 0.5)))
  }

  test("deterministic sampling stays exact for ids near 2^62 (no 64-bit wrap)") {
    // The pre-fix hash (id * 2654435761 % 2^32) wrapped negative for
    // id >= ~3.47e9, making the < threshold filter keep EVERY row. With the
    // mod-1e9+7 reduction the product stays < 2^63 and rates hold anywhere
    // in the BIGINT domain.
    val base = 1L << 62
    val huge = (0L until 10000L).map(base + _).toDF("id")
    val kept = Sampling.deterministicSample(huge, "id", 0.1).count()
    assert(kept > 700 && kept < 1300, s"rate-0.1 sample of 10000 huge ids kept $kept")
    assert(Sampling.deterministicSample(huge, "id", 0.0).count() == 0)
    // partition-stability holds in the huge-id domain too
    val a = Sampling.deterministicSample(huge, "id", 0.2).collect().map(_.getLong(0)).toSet
    val b = Sampling.deterministicSample(huge.repartition(7), "id", 0.2)
      .collect().map(_.getLong(0)).toSet
    assert(a == b)
  }

  test("ivf ann: every probe searches exactly one refined cell, scores are exact cosine") {
    val vecs = Tables.table(spark, sfDir, "embeddings")
    val probes = vecs.filter($"vec_id" < 5)
    val r = Similarity.ivfTopK(vecs, probes, "vec_id", "embedding", k = 3).collect()
    val byProbe = r.groupBy(_.getAs[Long]("query_id"))
    assert(byProbe.keySet == Set(0L, 1L, 2L, 3L, 4L))
    byProbe.values.foreach { rows =>
      assert(rows.map(_.getAs[Int]("rnk")).sorted.toSeq == (1 to rows.length))
      assert(rows.map(_.getAs[Int]("cell")).distinct.length == 1) // nProbe=1
      rows.foreach(x => assert(math.abs(x.getAs[Double]("cos_sim")) <= 1.0 + 1e-9))
    }
    // a probe's neighbors must never beat the probe's own top-1 (ordering sane)
    byProbe.values.foreach { rows =>
      val sims = rows.sortBy(_.getAs[Int]("rnk")).map(_.getAs[Double]("cos_sim"))
      assert(sims.zip(sims.tail).forall { case (a, b) => a >= b })
    }
    // the corpus-wide centroid aggregation is shared by both assignment
    // branches via exchange reuse — it must not evaluate twice (AQE
    // resolves reuse during execution, so inspect the final plan)
    val df = Similarity.ivfTopK(vecs, probes, "vec_id", "embedding", k = 3)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ReusedExchange"), "centroid subplan not reused across branches")
  }

  test("approx_count_distinct tracks exact distinct within 5% (the 100 TB path)") {
    // COUNT(DISTINCT) rewrites to an Expand + double aggregation;
    // approx_count_distinct is a mergeable HLL++ sketch — one partial+final
    // pass, the cardinality answer at corpus scale.
    val li = Tables.table(spark, sfDir, "lineitem")
    val r = li.selectExpr(
      "count(DISTINCT l_partkey) AS exact",
      "approx_count_distinct(l_partkey, 0.02) AS approx").collect()(0)
    val (e, a) = (r.getLong(0).toDouble, r.getLong(1).toDouble)
    assert(math.abs(e - a) / e < 0.05, s"exact $e approx $a")
  }

  test("approx_percentile tracks exact percentile within 5% (the 100 TB path)") {
    // exact PERCENTILE needs a full sort per group; approx_percentile is a
    // mergeable sketch (one partial+final shuffle) — the percentile answer
    // at corpus scale. Pin that its error stays within the accuracy budget.
    val li = Tables.table(spark, sfDir, "lineitem")
    val r = li.selectExpr(
      "percentile(l_extendedprice, 0.5) AS exact_p50",
      "approx_percentile(l_extendedprice, 0.5, 1000) AS approx_p50",
      "percentile(l_extendedprice, 0.95) AS exact_p95",
      "approx_percentile(l_extendedprice, 0.95, 1000) AS approx_p95").collect()(0)
    def relErr(e: Double, a: Double) = math.abs(e - a) / e
    assert(relErr(r.getDouble(0), r.getDouble(1)) < 0.05)
    assert(relErr(r.getDouble(2), r.getDouble(3)) < 0.05)
  }

  test("chunking covers the text with the declared overlap; short docs get one chunk") {
    val d = Seq((1L, "a" * 250), (2L, "tiny")).toDF("doc_id", "text")
    val chunks = TextAnalysis.chunk(d, "doc_id", "text", chunkChars = 100, overlapChars = 20)
      .orderBy("doc_id", "chunk_idx").collect()
    val doc1 = chunks.filter(_.getLong(0) == 1L).map(_.getString(2))
    assert(doc1.length == 3) // starts at 0, 80, 160; 240 > 250-20 stops
    assert(doc1(0).length == 100 && doc1(1).length == 100 && doc1(2).length == 90)
    // overlap: last 20 chars of chunk k == first 20 of chunk k+1
    assert(doc1(0).takeRight(20) == doc1(1).take(20))
    assert(chunks.filter(_.getLong(0) == 2L).map(_.getString(2)).toSeq == Seq("tiny"))
  }

  test("piiScrub redacts emails and phone numbers, leaves the rest") {
    val d = Seq((1L, "mail me at a.user+x@test.org or call 555-123-4567 ok")).toDF("doc_id", "text")
    val r = TextAnalysis.piiScrub(d, "doc_id", "text").collect()(0).getString(1)
    assert(r == "mail me at [EMAIL] or call [PHONE] ok")
  }

  test("repetitionStats: ppm shares are exact integers") {
    val d = Seq((1L, "a a a b")).toDF("doc_id", "text") // max freq 3/4, dups (4-2)/4
    val r = TextAnalysis.repetitionStats(d, "doc_id", "text").collect()(0)
    assert(r.getAs[Long]("n_tokens") == 4)
    assert(r.getAs[Long]("max_token_ppm") == 750000L)
    assert(r.getAs[Long]("dup_token_ppm") == 500000L)
  }

  test("decontaminate drops near-copies of benchmark docs, keeps the rest") {
    val bench = Seq((100L, "the quick brown fox jumps over the lazy dog")).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),   // exact copy -> dropped
      (2L, "totally unrelated words about engines and scale") // kept
    ).toDF("doc_id", "text")
    val kept = Dedup.decontaminate(corpus, bench, "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(2L))
  }

  test("bpe: learns the most frequent pair first, encode round-trips, deterministic") {
    val corpus = Seq(
      (1L, "low low low low low"),
      (2L, "lower lower newest newest"),
      (3L, "newest newest newest newest")
    ).toDF("doc_id", "text")
    val merges = graft.operators.Bpe.train(corpus, "text", numMerges = 6)
    assert(merges.length == 6)
    assert(merges.map(_.rank) == (0 until 6))
    // most frequent adjacent pair across the corpus must win round 0:
    // 'e''s' appears in newest(6) and ... count by word-freq weighting
    val again = graft.operators.Bpe.train(corpus, "text", numMerges = 6)
    assert(merges == again) // deterministic
    val enc = graft.operators.Bpe.encode(corpus, "doc_id", "text", merges)
      .orderBy("doc_id").collect()
    // every word's tokens concatenate back to word + marker
    val row1 = enc(0).getAs[scala.collection.Seq[String]]("tokens")
    assert(row1.mkString("").replace(graft.operators.Bpe.EndOfWord, " ").trim
      == "low low low low low")
    // merges compress: fewer tokens than raw chars+markers
    val rawLen = "low low low low low".replace(" ", "").length + 5
    assert(enc(0).getAs[Long]("n_tokens") < rawLen)
  }

  test("bpe: batched training equals sequential when round winners are disjoint") {
    // single-char words merge straight to a pairless symbol (c</w>), so
    // sequential winners are disjoint by construction and batched rounds
    // must reproduce them, ranks included; strictly decreasing word
    // frequencies pin the order
    val rows = Seq.tabulate(4) { i =>
      val w = ('a' + i).toChar.toString
      (i.toLong, Seq.fill(10 - i * 2)(w).mkString(" "))
    }
    val corpus = rows.toDF("doc_id", "text")
    val seqM = graft.operators.Bpe.train(corpus, "text", numMerges = 4)
    val batM = graft.operators.Bpe.train(corpus, "text", numMerges = 4, batch = 4)
    assert(seqM.map(m => (m.a, m.b)) ==
      Seq(("a", "</w>"), ("b", "</w>"), ("c", "</w>"), ("d", "</w>")))
    assert(batM == seqM)
    // interfering pairs (shared chain symbol) must NOT batch together:
    // same-round right-left overlap falls back to next round, and the
    // result still merges the top pair first
    val chain = Seq((1L, "abc abc abc")).toDF("doc_id", "text")
    val chainBat = graft.operators.Bpe.train(chain, "text", numMerges = 2, batch = 2)
    assert(chainBat.head == graft.operators.Bpe.train(chain, "text", numMerges = 1).head)
  }

  test("interleave round-robins the sources") {
    val df = Seq(("a", 1L), ("a", 2L), ("a", 3L), ("b", 10L), ("b", 20L)).toDF("src", "k")
    val mixed = Sampling.interleave(df, "src", "k")
      .orderBy("mix_order").select("src").collect().map(_.getString(0)).toSeq
    assert(mixed == Seq("a", "b", "a", "b", "a"))
  }

  test("range join equals the naive BETWEEN join, incl. cross-bucket intervals") {
    import java.sql.Timestamp
    def ts(s: String) = Timestamp.valueOf(s)
    val points = Seq(
      (1L, "k1", ts("2020-01-15 00:00:00")),
      (2L, "k1", ts("2020-02-01 00:00:00")), // exactly on an interval end
      (3L, "k1", ts("2020-03-10 00:00:00")), // no covering interval
      (4L, "k2", ts("2020-01-15 00:00:00"))  // right key, wrong interval key
    ).toDF("pid", "pk", "pt")
    val intervals = Seq(
      (10L, "k1", ts("2020-01-10 00:00:00"), ts("2020-02-01 00:00:00")), // spans Jan->Feb
      (11L, "k1", ts("2020-01-01 00:00:00"), ts("2020-01-20 00:00:00")),
      (12L, "k3", ts("2020-01-01 00:00:00"), ts("2020-12-31 00:00:00"))
    ).toDF("iid", "ik", "istart", "iend")
    val got = RangeJoin.pointInInterval(points, intervals, "pk", "ik", "pt", "istart", "iend")
      .select("pid", "iid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = points.as[(Long, String, Timestamp)].collect().flatMap { case (pid, pk, pt) =>
      intervals.as[(Long, String, Timestamp, Timestamp)].collect().collect {
        case (iid, ik, s, e) if ik == pk && !pt.before(s) && !pt.after(e) => (pid, iid)
      }
    }.toSet
    assert(got == want)
    assert(got == Set((1L, 10L), (1L, 11L), (2L, 10L)))
  }

  test("annRecall counts hits against ground truth, integer ppm") {
    val ann = Seq((1L, 10L), (1L, 11L), (2L, 20L)).toDF("query_id", "neighbor_id")
    val exact = Seq((1L, 10L), (1L, 12L), (1L, 13L), (2L, 20L), (2L, 21L))
      .toDF("query_id", "neighbor_id")
    val got = Similarity.annRecall(ann, exact).orderBy("query_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    // q1: 1 of 3 exact recovered (11 is a spurious extra, not a hit);
    // q2: 1 of 2
    assert(got === Seq((1L, 3L, 1L, 333333L), (2L, 2L, 1L, 500000L)))
    // duplicate (query, neighbor) rows (multi-probe shapes) must not
    // inflate k or hits
    val dup = ann.unionAll(ann)
    val got2 = Similarity.annRecall(dup, exact.unionAll(exact))
      .orderBy("query_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got2 === got)
  }

  test("kmeans lloyd converges to the obvious 2-cluster split on a hand-checked fixture") {
    import graft.operators.KMeans
    val vecs = Seq(
      (1L, Array(0.0f, 0.0f)), (2L, Array(0.1f, 0.0f)),
      (3L, Array(0.4f, 0.4f)), (4L, Array(0.5f, 0.4f))
    ).toDF("vec_id", "embedding")
    // init = vecs 1,2; after round 1 the centroid of {2,3,4} drifts right,
    // round 2 pulls 2 back to cluster 0 -> the natural split
    val first = KMeans.lloyd(vecs, "vec_id", "embedding", k = 2, iters = 2)
      .orderBy("vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(first.map(t => t._1 -> t._2).toMap ===
      Map(1L -> 0L, 2L -> 0L, 3L -> 1L, 4L -> 1L))
    // distances are exact shifted-micro integers: cluster-0 centroid x =
    // (2000000 + 2100000) DIV 2 = 2050000, so v1's dx = 50000, dist = dx^2
    assert(first.head._3 === 50000L * 50000L)
    // determinism: a second full run reproduces assignments AND distances
    val again = KMeans.lloyd(vecs, "vec_id", "embedding", k = 2, iters = 2)
      .orderBy("vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(again === first)
    // the fixed-point shift precondition fails loudly, not silently
    val bad = Seq((1L, Array(-3.0f, 0.0f)), (2L, Array(0.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val e = intercept[Exception] {
      KMeans.lloyd(bad, "vec_id", "embedding", k = 1, iters = 1).collect()
    }
    // pin the GUARD, not just "it threw": an unrelated analysis error
    // must not satisfy this test
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("requires every vector value > -2")),
      s"wrong failure: ${messages(e)}")
  }

  test("leakage-safe split keeps clusters whole where the naive split would straddle") {
    def h(id: Long): Long = Math.floorMod((id % 1000000007L) * 2654435761L, 4294967296L)
    val trainBound = 3435973836L // floor(0.8 * 2^32)
    // find a doc pair the NAIVE split separates: one hashes train, one not
    val inTrain = (1L to 500L).find(h(_) < trainBound).get
    val outTrain = (1L to 500L).find(h(_) >= trainBound).get
    val docs = (1L to 500L).toDF("doc_id")
    val pairs = Seq((inTrain, outTrain)).toDF("d1", "d2")
    val clusters = Dedup.duplicateClusters(pairs)
    val naive = Sampling.split(docs, "doc_id", Seq(("train", 0.8), ("rest", 0.2)))
    val naiveSplits = naive.filter(col("doc_id").isin(inTrain, outTrain))
      .select("split").distinct().count()
    assert(naiveSplits === 2L, "fixture must straddle under the naive split")
    val safe = Sampling.leakageSafeSplit(docs, "doc_id", clusters,
      Seq(("train", 0.8), ("rest", 0.2)))
    val safeSplits = safe.filter(col("doc_id").isin(inTrain, outTrain))
      .select("split").distinct().collect().map(_.getString(0)).toSeq
    assert(safeSplits.size === 1, s"cluster must move as one unit, got $safeSplits")
    // the shared draw is the keeper's (min id) own draw
    val keeperSplit = safe.filter(col("doc_id") === math.min(inTrain, outTrain))
      .select("split").head.getString(0)
    assert(safeSplits === Seq(keeperSplit))
    // docs outside any cluster keep their naive assignment
    val others = naive.withColumnRenamed("split", "naive_split")
      .join(safe, "doc_id")
      .filter(!col("doc_id").isin(inTrain, outTrain))
      .filter(col("naive_split") =!= col("split")).count()
    assert(others === 0L)
  }

  test("collocations: word2vec phrase score, rare-pair discount, exact integers") {
    val docs = (0L until 10L).map(i => (i, "new york new york city")).toDF("doc_id", "text")
    // per doc: [new, york, new, york, city] -> N=50; f(new)=f(york)=20,
    // f(city)=10; fab: (new,york)=20, (york,new)=10, (york,city)=10
    val got = TextAnalysis.collocations(docs, "doc_id", "text", delta = 5L, k = 10)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3))).toSeq
    // (new,york):  s1 = 15e6/20 = 750000;  *50/20 = 1875000
    // (york,city): s1 =  5e6/20 = 250000;  *50/10 = 1250000
    // (york,new):  s1 =  5e6/20 = 250000;  *50/20 =  625000
    assert(got === Seq(
      ("new", "york", 20L, 1875000L),
      ("york", "city", 10L, 1250000L),
      ("york", "new", 10L, 625000L)))
    // delta at the pair count kills it: fab must EXCEED delta
    val none = TextAnalysis.collocations(docs, "doc_id", "text", delta = 20L, k = 10)
    assert(none.count() === 0L)
  }

  test("weighted sample: integer priority replay, weight-monotone, top-k plan") {
    val rows = (1L to 400L).map(id => (id, (id % 13) * 100 + 1))
    val df = rows.toDF("id", "w")
    val got = Sampling.weightedSample(df, "id", "w", 25)
      .select("id").collect().map(_.getLong(0)).toSeq
    // local replay of the exact arithmetic
    def pri(id: Long, w: Long): Long =
      (math.min(w, 2147483647L) * 4294967296L) /
        (Math.floorMod((id % 1000000007L) * 2654435761L, 4294967296L) + 1L)
    val want = rows.map { case (id, w) => (id, pri(id, w)) }
      .sortBy { case (id, p) => (-p, id) }.take(25).map(_._1)
    assert(got === want)
    // same hash, bigger weight -> never lower priority
    assert(pri(7L, 500L) >= pri(7L, 100L))
    // zero/negative weights can never be sampled
    val withZero = (rows :+ (9999L, 0L) :+ (9998L, -5L)).toDF("id", "w")
    val ids = Sampling.weightedSample(withZero, "id", "w", 1000)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(!ids.contains(9999L) && !ids.contains(9998L))
    // top-k must be a heap merge, not a global sort
    val p = Sampling.weightedSample(df, "id", "w", 25)
      .queryExecution.executedPlan.toString
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("interval overlap join equals the naive overlap join, each pair exactly once") {
    import java.sql.Timestamp
    def ts(s: String) = Timestamp.valueOf(s)
    val lhs = Seq(
      (1L, "k1", ts("2020-01-10 00:00:00"), ts("2020-02-05 00:00:00")), // spans Jan->Feb
      (2L, "k1", ts("2020-03-01 00:00:00"), ts("2020-03-02 00:00:00")), // no overlap
      (3L, "k1", ts("2020-01-31 00:00:00"), ts("2020-02-01 00:00:00")),
      (4L, "k2", ts("2020-01-10 00:00:00"), ts("2020-12-31 00:00:00"))  // wrong key
    ).toDF("lid", "lk", "ls", "le")
    val rhs = Seq(
      (10L, "k1", ts("2020-02-01 00:00:00"), ts("2020-02-20 00:00:00")), // touches 3's end
      (11L, "k1", ts("2020-01-01 00:00:00"), ts("2020-01-10 00:00:00")), // touches 1's start
      (12L, "k3", ts("2020-01-01 00:00:00"), ts("2020-12-31 00:00:00"))
    ).toDF("rid", "rk", "rs", "re")
    // one row per (lid, rid) — the canonical-bucket guard must prevent the
    // multi-bucket pair (1,10) from appearing once per shared month
    val rows = RangeJoin.intervalOverlap(lhs, rhs, "lk", "rk", "ls", "le", "rs", "re")
      .select("lid", "rid").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(rows.size == rows.toSet.size, s"pair emitted twice: $rows")
    val want = lhs.as[(Long, String, Timestamp, Timestamp)].collect().flatMap {
      case (lid, lk, ls, le) =>
        rhs.as[(Long, String, Timestamp, Timestamp)].collect().collect {
          case (rid, rk, rs, re) if rk == lk && !ls.after(re) && !rs.after(le) =>
            (lid, rid)
        }
    }.toSet
    assert(rows.toSet == want)
    assert(want == Set((1L, 10L), (1L, 11L), (3L, 10L)))
    // multi-unit buckets misalign the per-row grids -> must be rejected
    intercept[IllegalArgumentException] {
      RangeJoin.intervalOverlap(lhs, rhs, "lk", "rk", "ls", "le", "rs", "re",
        bucket = "2 hours")
    }
    intercept[IllegalArgumentException] {
      RangeJoin.pointInInterval(lhs, rhs, "lk", "rk", "ls", "rs", "re",
        bucket = "3 days")
    }
  }

  test("duplicate clusters merge transitively (A~B, B~C, no A~C edge)") {
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L), (21L, 22L), (20L, 22L))
      .toDF("d1", "d2")
    val got = Dedup.duplicateClusters(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L, 22L -> 20L))
  }

  test("duplicate clusters survive a deep chain (diameter >> propagation cap)") {
    // path 0-1-...-79: diameter 79 forces the star-contraction phase —
    // propagation alone would need 80 rounds, far past its 5-round cap and
    // past maxIter; large-star/small-star must still land every node on
    // keeper 0. Also a worst case for the id-order heuristics: reversed
    // ids (the min is at the far end from high ids).
    val n = 80
    val pairs = spark.range(n - 1)
      .selectExpr("id AS d1", "id + 1 AS d2")
    val got = Dedup.duplicateClusters(pairs)
    assert(got.count() === n.toLong)
    assert(got.filter(col("keeper") =!= 0L).isEmpty, "all keepers must be 0")
  }

  test("dropDuplicates keeps exactly one representative per cluster") {
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("d1", "d2")
    val clusters = Dedup.duplicateClusters(pairs)
    val corpus = Seq(1L, 2L, 3L, 99L).toDF("doc_id")
    val kept = Dedup.dropDuplicates(corpus, clusters, "doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 99L))
  }

  test("corpus sketch is mergeable: sketch(union) == merge of group sketches") {
    val grouped = docs.withColumn("grp",
      when($"doc_id" <= 2, "a").otherwise("b"))
    val perGroup = Dedup.corpusSketch(grouped, "grp", "text")
    // merging the two group sketches (min per pos) must equal the sketch
    // of the whole corpus under one group
    val merged = perGroup.groupBy("pos").agg(min("min_h").as("min_h"))
      .orderBy("pos").collect().map(r => (r.getInt(0), r.getLong(1)))
    val whole = Dedup.corpusSketch(grouped.withColumn("grp", lit("all")), "grp", "text")
      .orderBy("pos").collect().map(r => (r.getInt(1), r.getLong(2)))
    assert(merged.toSeq == whole.toSeq)
  }

  test("normalized dedup merges case/punctuation variants") {
    val d = Seq((1L, "Hello, World!"), (2L, "hello world"), (3L, "other")).toDF("doc_id", "text")
    val r = Dedup.normalized(d, "doc_id", "text").filter($"n_copies" > 1).collect()
    assert(r.length == 1 && r(0).getAs[Long]("n_copies") == 2)
  }

  test("minhash LSH surfaces exact and near duplicates as candidates") {
    val sigs = Dedup.minhashSignature(docs, "doc_id", "text")
    val cands = Dedup.minhashCandidates(Dedup.minhashBands(sigs, "doc_id"), "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cands.contains((1L, 2L)), s"exact dup pair missing from $cands")
    assert(!cands.exists(p => p._1 == 4L || p._2 == 4L), s"unrelated doc joined a bucket: $cands")
  }

  test("ngram jaccard: identical docs = 1.0, near dups in (0,1)") {
    val pairs = Seq((1L, 2L), (1L, 3L)).toDF("d1", "d2")
    val j = Dedup.ngramJaccard(docs, pairs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(j((1L, 2L)) == 1.0)
    assert(j((1L, 3L)) > 0.4 && j((1L, 3L)) < 1.0)
  }

  test("simhash: exact dups equal, near dups within small hamming distance") {
    val r = Dedup.simhash(docs, "doc_id", "text")
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(r(1L) == r(2L))
    val hamming = java.lang.Long.bitCount(r(1L) ^ r(3L))
    assert(hamming <= 12, s"near-dup hamming distance too large: $hamming")
  }

  private lazy val vecs = {
    val rows = (0 until 20).map { i =>
      // unit-ish vectors: cluster k = i % 4 dominant axis + small id jitter
      val v = Array.tabulate(64)(d => if (d == (i % 4) * 16) 1.0f else if (d == 63) i * 0.001f else 0.0f)
      (i.toLong, v)
    }
    rows.toDF("vec_id", "embedding")
  }

  test("brute-force ANN ranks same-cluster vectors first") {
    val probes = vecs.filter($"vec_id" < 4)
    val r = Similarity.bruteForceTopK(vecs, probes, "vec_id", "embedding", k = 3).collect()
    assert(r.length == 12)
    r.foreach { row =>
      val q = row.getAs[Long]("query_id"); val n = row.getAs[Long]("neighbor_id")
      assert(q % 4 == n % 4, s"neighbor $n not in cluster of query $q")
      assert(row.getAs[Double]("cos_sim") > 0.99)
    }
  }

  test("LSH ANN agrees with brute force on this corpus") {
    val probes = vecs.filter($"vec_id" < 4)
    val brute = Similarity.bruteForceTopK(vecs, probes, "vec_id", "embedding", k = 3)
      .select("query_id", "neighbor_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Similarity.lshTopK(vecs, probes, "vec_id", "embedding", k = 3)
      .select("query_id", "neighbor_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh == brute, s"lsh=$lsh brute=$brute")
  }

  test("embedding near-dup detection within buckets") {
    val withBucket = vecs.withColumn("b", $"vec_id" % 4)
    val r = operators.Dedup.embeddingNearDups(withBucket, "vec_id", "embedding", "b", 0.99)
      .collect()
    assert(r.nonEmpty)
    r.foreach(row => assert(row.getLong(0) % 4 == row.getLong(1) % 4))
  }

  test("text analysis: quality, langid, tokens, fingerprint") {
    val q = TextAnalysis.qualityStats(docs, "doc_id", "text").collect()
    assert(q.forall(_.getAs[Long]("n_tokens") > 0))
    val t = TextAnalysis.tokenCounts(docs, "doc_id", "text")
      .filter($"doc_id" === 1L).collect()(0)
    assert(t.getAs[Long]("ws_tokens") == 9)
    val fr = Seq((1L, "le chat et la souris des bois")).toDF("doc_id", "text")
    val lang = TextAnalysis.languageId(fr, "doc_id", "text").collect()(0).getString(1)
    assert(lang == "fr")
    val fp = TextAnalysis.fingerprint(docs, "doc_id", "text").collect()
    assert(fp.map(_.getString(1)).distinct.length == 3) // 1==2 share md5
  }

  test("tf-idf: hand-computed ppm scores on a tiny corpus") {
    val tiny = Seq(
      (1L, "a a a b"),   // tf(a)=3 in doc 1
      (2L, "a c c c"),   // tf(c)=3 in doc 2
      (3L, "b b b b")    // tf(b)=4 in doc 3
    ).toDF("doc_id", "text")
    val r = TextAnalysis.tfIdf(tiny, "doc_id", "text", minTf = 3)
      .orderBy("doc_id", "term").collect()
      .map(x => (x.getAs[Long]("doc_id"), x.getAs[String]("term"),
        x.getAs[Long]("tf"), x.getAs[Long]("df"), x.getAs[Long]("tfidf_ppm")))
    // n_docs = 3; score = (tf * 3 * 1e6) DIV df
    assert(r.toSeq == Seq(
      (1L, "a", 3L, 2L, 4500000L),   // a appears in docs 1,2
      (2L, "c", 3L, 1L, 9000000L),
      (3L, "b", 4L, 2L, 6000000L))) // b appears in docs 1,3
  }

  test("shardPlan: two-pass prefix sum equals a naive global cumsum, layout-stable") {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.table(spark, sfDir, "documents")
      .select($"doc_id", size(split($"text", " ")).cast("long").as("n"))
    val planned = graft.operators.Packing.shardPlan(docs, "doc_id", "n", 1000L, blocks = 8)
      .select("doc_id", "start_token", "shard")
    // naive single-window reference (fine at test scale, the antipattern at 100 TB)
    val naive = docs
      .withColumn("__k", expr("((doc_id % 1000000007) * 2654435761) % 4294967296"))
      .withColumn("start_token",
        coalesce(sum($"n").over(Window.orderBy($"__k", $"doc_id")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select($"doc_id", $"start_token", expr("start_token DIV 1000").as("shard"))
    assert(planned.except(naive).isEmpty && naive.except(planned).isEmpty)
    // layout invariance: a different input partitioning yields identical offsets
    val re = graft.operators.Packing.shardPlan(docs.repartition(13), "doc_id", "n", 1000L, blocks = 8)
      .select("doc_id", "start_token", "shard")
    assert(re.except(planned).isEmpty && planned.except(re).isEmpty)
    // offsets tile the token stream exactly: max start + its tokens = total
    val total = docs.agg(sum($"n")).collect()(0).getLong(0)
    val last = graft.operators.Packing.shardPlan(docs, "doc_id", "n", 1000L, blocks = 8)
      .orderBy(col("start_token").desc).limit(1).collect()(0)
    assert(last.getAs[Long]("start_token") + last.getAs[Long]("n") == total)
  }

  test("blocklistGate: parent-domain suffix match drops, url-free docs pass") {
    val docs = Seq(
      (1L, "clean doc no urls"),
      (2L, "see https://ads.tracker.net/a"),      // parent tracker.net blocked
      (3L, "see https://tracker.net/b"),           // exact match
      (4L, "see https://nottracker.net.safe.org/x"), // different suffix -> passes
      (5L, "see https://good.example.com/y")
    ).toDF("doc_id", "text")
    val blocked = Seq("tracker.net").toDF("domain")
    val kept = TextAnalysis.blocklistGate(docs, "doc_id", "text", blocked)
      .orderBy("doc_id").collect().map(_.getLong(0))
    assert(kept.toSeq == Seq(1L, 4L, 5L))
  }

  test("pqTopK: m codes per vector, bounded codebook, recall far above chance") {
    val vecs = Tables.table(spark, sfDir, "embeddings")
    val probes = vecs.filter($"vec_id" < 20)
    val pq = Similarity.pqTopK(vecs, probes, "vec_id", "embedding", k = 5)
    val rows = pq.collect()
    val n = probes.count()
    assert(rows.length == n * 5)                       // full top-5 per probe
    // recall of the exact nearest neighbor in PQ's top-5: everything is
    // deterministic, so this is a fixed number — chance level for top-5
    // of this corpus is ~1%, the codebooks recover far more
    val exact = Similarity.bruteForceTopK(vecs, probes, "vec_id", "embedding", k = 1)
      .collect().map(r => r.getAs[Long]("query_id") -> r.getAs[Long]("neighbor_id")).toMap
    val byQ = rows.groupBy(_.getAs[Long]("query_id"))
      .map { case (q, rs) => q -> rs.map(_.getAs[Long]("neighbor_id")).toSet }
    val hits = exact.count { case (q, nn) => byQ.getOrElse(q, Set()).contains(nn) }
    assert(hits >= 3, s"PQ recall collapsed: $hits/${exact.size}")
    // layout invariance: repartitioned input codes and ranks identically
    val re = Similarity.pqTopK(vecs.repartition(7), probes, "vec_id", "embedding", k = 5)
    assert(re.except(pq).isEmpty && pq.except(re).isEmpty)
  }

  test("ivfPqTopK: candidates confined to the probe's cell, scores agree with pure PQ") {
    val vecs = Tables.table(spark, sfDir, "embeddings")
    val probes = vecs.filter($"vec_id" < 20)
    val n = vecs.count().toInt
    val composed = Similarity.ivfPqTopK(vecs, probes, "vec_id", "embedding", k = 5)
      .select("query_id", "neighbor_id", "adot_micro").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(composed.nonEmpty)
    // every composed (query, neighbor, score) must appear among the pure-PQ
    // scores over ALL pairs — the IVF routing may only FILTER, never change
    // a score
    val allPq = Similarity.pqTopK(vecs, probes, "vec_id", "embedding", k = n)
      .select("query_id", "neighbor_id", "adot_micro").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(composed.subsetOf(allPq))
    // and the routing is real: some PQ-visible pair is outside the cell
    assert(composed.size < allPq.size)
  }

  test("spanCorruptionPlan: spans disjoint, in-range, exact noise budget, closed form") {
    val ns = (1L to 200L) ++ Seq(1000L, 12345L)
    val docs = ns.map(n => (n, n)).toDF("doc_id", "n")
    val rows = graft.operators.Packing.spanCorruptionPlan(docs, "doc_id", "n")
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_noise"),
        r.getAs[Long]("n_spans"), r.getAs[Long]("span_idx"),
        r.getAs[Long]("span_start"), r.getAs[Long]("span_len")))
      .groupBy(_._1)
    // docs below the noise floor (n*0.15 < 1) emit nothing
    assert(!(1L to 6L).exists(rows.contains))
    for ((n, spans) <- rows) {
      val noise = n * 150000 / 1000000
      assert(spans.forall(_._2 == noise))
      assert(spans.map(_._6).sum == noise)                    // exact budget
      assert(spans.forall(s => s._5 >= 0 && s._5 + s._6 <= n)) // in range
      val sorted = spans.sortBy(_._4)
      assert(sorted.map(_._4).toSeq == (0L until sorted.length.toLong)) // dense idx
      sorted.sliding(2).foreach {
        case Array(a, b) => assert(a._5 + a._6 <= b._5)        // disjoint, gap > 0
        case _ =>
      }
    }
  }

  test("semDedup: one representative survives per in-cluster near-dup group") {
    val vecs = Tables.table(spark, sfDir, "embeddings")
    val r = Similarity.semDedup(vecs, "vec_id", "embedding")
      .collect().map(x => (x.getLong(0), x.getAs[Int]("kept"),
        Option(x.getAs[Any]("dup_of")))).toSeq
    val n = vecs.count()
    assert(r.length == n)                          // one verdict per vector
    val dropped = r.filter(_._2 == 0)
    assert(dropped.nonEmpty)                       // the planted near-dups fire
    assert(r.count(_._2 == 1) == n - dropped.length)
    // every drop names a smaller surviving-or-dropped id as its cause
    assert(dropped.forall { case (id, _, dupOf) =>
      dupOf.exists(_.asInstanceOf[Long] < id) })
    // kept rows carry no dup_of
    assert(r.filter(_._2 == 1).forall(_._3.isEmpty))
  }

  test("incrementalExact: drops seen digests, keeps one per digest within the batch") {
    val seen = Seq("old text").toDF("text").select(md5($"text").as("digest"))
    val batch = Seq(
      (10L, "old text"),   // already ingested -> dropped
      (11L, "fresh one"),  // new -> admitted
      (12L, "fresh one"),  // within-batch dup of 11 -> dropped
      (13L, "fresh two")
    ).toDF("doc_id", "text")
    val r = Dedup.incrementalExact(batch, seen, "doc_id", "text")
      .orderBy("doc_id").collect().map(_.getLong(0))
    assert(r.toSeq == Seq(11L, 13L))
  }

  test("incrementalBloom: bit-identical to incrementalExact at any sketch size") {
    val seen = (1L to 2000L).map(i => s"seen doc $i").toDF("text")
      .select(md5($"text").as("digest"))
    val batch = ((1500L to 2500L).map(i => (i, s"seen doc $i")) ++
      Seq((9001L, "seen doc 1600"), (9002L, "brand new"), (9003L, "brand new")))
      .toDF("doc_id", "text")
    val exact = Dedup.incrementalExact(batch, seen, "doc_id", "text")
      .collect().map(_.getLong(0)).toSet
    assert(exact.contains(2001L) && exact.contains(9002L) &&
      !exact.contains(1500L) && !exact.contains(9001L) && !exact.contains(9003L))
    val wellSized = Dedup.incrementalBloom(batch, seen, "doc_id", "text",
      expectedItems = 4096, fpp = 0.01).collect().map(_.getLong(0)).toSet
    assert(wellSized == exact)
    // a degenerate, saturated sketch turns every row into a confirm-join
    // candidate — the result must STILL be exact (Bloom is only a pre-filter)
    val saturated = Dedup.incrementalBloom(batch, seen, "doc_id", "text",
      expectedItems = 4, fpp = 0.5).collect().map(_.getLong(0)).toSet
    assert(saturated == exact)
  }

  test("hardNegatives: nearest cross-label neighbors only, never same label, ranked by cosine") {
    val rng = new scala.util.Random(11)
    def vec(center: Int): Array[Float] = Array.tabulate(64) { i =>
      (if (center == 0) math.sin(i / 3.0) else math.cos(i / 2.0)).toFloat +
        (rng.nextFloat() - 0.5f) * 0.05f
    }
    // family 0 split across two labels -> hard negatives for an "a0" anchor
    // are the very similar "b0" vectors, not the far-away family-1 ones
    val rows = (0L until 20L).map(i => (i, vec(0), if (i % 2 == 0) "a0" else "b0")) ++
      (20L until 40L).map(i => (i, vec(1), "c1"))
    val df = rows.toDF("vec_id", "embedding", "label")
    val r = Similarity.hardNegatives(df, "vec_id", "embedding", "label", k = 3)
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getLong(3)))
    val labels = rows.map(t => t._1 -> t._3).toMap
    assert(r.nonEmpty)
    assert(r.forall { case (a, _, n, _) => labels(a) != labels(n) })
    // per anchor: ranks contiguous from 1, sims non-increasing
    r.groupBy(_._1).foreach { case (a, rs) =>
      val sorted = rs.sortBy(_._2)
      assert(sorted.map(_._2).toSeq == (1L to sorted.length).toSeq, s"anchor $a")
      assert(sorted.map(_._4).toSeq == sorted.map(_._4).sortBy(-_).toSeq, s"anchor $a")
    }
    // a family-0 anchor's negatives are family-0 opposite-label vectors
    val fam0 = r.filter(_._1 < 20L)
    assert(fam0.nonEmpty && fam0.forall(_._3 < 20L),
      "hard negatives must come from the similar family, not the distant one")
  }

  test("semanticSort: same cell assignment as semDedup, similar vectors adjacent") {
    val rng = new scala.util.Random(7)
    // two well-separated families of vectors + per-vector jitter
    def vec(center: Int): Array[Float] = Array.tabulate(64) { i =>
      (if (center == 0) math.sin(i / 3.0) else math.cos(i / 2.0)).toFloat +
        (rng.nextFloat() - 0.5f) * 0.1f
    }
    val vecs = (0L until 40L).map(i => (i, vec((i % 2).toInt))).toDF("vec_id", "embedding")
    val sorted = graft.operators.Similarity.semanticSort(vecs, "vec_id", "embedding")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val dedup = graft.operators.Similarity.semDedup(vecs, "vec_id", "embedding")
      .collect().map(r => r.getLong(0) -> r.getAs[Number]("cell").longValue()).toMap
    assert(sorted.keySet == dedup.keySet)
    assert(sorted.forall { case (id, (cell, _)) => dedup(id) == cell },
      "semanticSort and semDedup must assign identical cells")
    // materialized order groups the two families into contiguous runs
    val order = sorted.toSeq.sortBy { case (id, (cell, sim)) => (cell, -sim, id) }
      .map { case (id, _) => (id % 2).toInt }
    val transitions = order.sliding(2).count(p => p.length == 2 && p(0) != p(1))
    assert(transitions <= 3, s"families interleaved: $order")
  }

  test("decodeAudio: JDK WAV roundtrip recovers format + exact quartile energies; non-audio falls back") {
    implicit val s = spark
    val ids = Seq(3L, 7L).toDF("doc_id")
    val media = Multimodal.syntheticWavTable(ids, "doc_id")
    val r = Multimodal.decodeAudio(media).collect().map(a => a.id -> a).toMap
    for (id <- Seq(3L, 7L)) {
      val a = r(id)
      val n = (8000 + (id * 17) % 4000).toInt
      assert(a.audio_ok && a.sample_rate == 16000 && a.channels == 1 && a.n_samples == n)
      // independent reference fold over the closed-form waveform
      val want = new Array[Long](4)
      for (t <- 0 until n) {
        val v = (id * 31 + t.toLong * 7) % 2003 - 1001
        want((t.toLong * 4 / n).toInt) += v * v
      }
      assert(Seq(a.e0, a.e1, a.e2, a.e3) == want.toSeq, s"id=$id")
    }
    // a payload the JDK can't parse keeps flowing with audio_ok = false
    val junk = Seq((99L, "not audio at all".getBytes("UTF-8"))).toDF("id", "payload")
    val f = Multimodal.decodeAudio(junk).collect()(0)
    assert(!f.audio_ok && f.n_samples == 0L && f.n_bytes == 16L)
  }

  test("decodeVideo: real MJPEG AVI frames decode via ImageIO; ASCII fixture replayable; junk skipped") {
    implicit val s = spark
    val ids = Seq(3L, 10L).toDF("doc_id")
    // real motion-JPEG: every frame is a decodable JPEG with the container's geometry
    val mj = Multimodal.decodeVideo(Multimodal.syntheticMjpegTable(ids, "doc_id", k = 3)).collect()
    assert(mj.length == 6)
    for (f <- mj) {
      val (w, h) = ((64 + (f.id * 7) % 64).toInt, (48 + (f.id * 13) % 48).toInt)
      assert(f.width == w && f.height == h && f.n_frames == 3)
      assert(f.frame_ok && f.dec_w == w && f.dec_h == h, s"frame $f")
    }
    // ASCII fixture: container parsing exact, payload closed-form, no codec
    val as = Multimodal.decodeVideo(Multimodal.syntheticAviAsciiTable(ids, "doc_id", k = 2)).collect()
    for (f <- as) {
      val sstr = s"frame:${f.id}:${f.frame_idx}:" * (3 + ((f.id + f.frame_idx) % 5)).toInt
      assert(f.frame_bytes == sstr.getBytes("UTF-8").length.toLong)
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(sstr.getBytes("UTF-8")).map(b => f"$b%02x").mkString
      assert(f.frame_md5 == md && !f.frame_ok)
    }
    // junk bytes: not a RIFF -> zero rows, no crash
    val junk = Seq((7L, "definitely not avi".getBytes("UTF-8"))).toDF("id", "payload")
    assert(Multimodal.decodeVideo(junk).collect().isEmpty)
  }

  test("epochSchedule: caps at maxEpochs, redistributes leftover, never exceeds budget") {
    // three sources: 1000 / 400 / 100 tokens, budget 1200, maxEpochs 2
    // fair = 400; small caps at 200 -> a1 = (400, 400, 200), L = 200
    // capRem = (1600, 400, 0), sum 2000 -> extra = (160, 40, 0)
    // final  = (560, 440, 200) -> epochs (0,1,2), rema (560, 40, 0)
    val rows = (1 to 10).map(i => ("a", 100L)) ++
      (1 to 4).map(i => ("b", 100L)) ++ Seq(("c", 100L))
    val r = Sampling.epochSchedule(rows.toDF("src", "tok"), "src", "tok",
        budget = 1200L, maxEpochs = 2)
      .orderBy("src").collect()
      .map(x => (x.getString(0), x.getLong(1), x.getLong(2), x.getLong(3), x.getLong(4)))
    assert(r.toSeq == Seq(
      ("a", 1000L, 560L, 0L, 560L),
      ("b", 400L, 440L, 1L, 40L),
      ("c", 100L, 200L, 2L, 0L)))
    assert(r.map(_._3).sum <= 1200L)
    // budget far above all caps: every source takes exactly maxEpochs
    val all = Sampling.epochSchedule(rows.toDF("src", "tok"), "src", "tok",
        budget = 100000L, maxEpochs = 3)
      .collect().map(x => (x.getString(0), x.getLong(2), x.getLong(3)))
    assert(all.toSet == Set(("a", 3000L, 3L), ("b", 1200L, 3L), ("c", 300L, 3L)))
  }

  test("packFfd: matches an independent first-fit-decreasing fold, isolates oversized docs") {
    val rng = new scala.util.Random(42)
    val docs = (0L until 500L).map(i => (i, 1L + rng.nextInt(600).toLong)) :+ (500L, 2000L)
    val df = docs.toDF("id", "tok")
    val got = Packing.packFfd(df, "id", "tok", budget = 512L, blockSize = 128L)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // independent reference: per block, sort by (tok desc, id), first-fit scan
    val want = docs.groupBy { case (id, _) => id / 128 }.flatMap { case (blk, ds) =>
      val rems = scala.collection.mutable.ArrayBuffer.empty[Long]
      ds.sortBy { case (id, t) => (-t, id) }.map { case (id, t) =>
        val fit = rems.indexWhere(_ >= t)
        val bin = if (fit < 0) { rems += 512L - t; rems.length } else { rems(fit) -= t; fit + 1 }
        id -> (blk, bin.toLong)
      }
    }
    assert(got == want.toMap)
    // every non-oversized bin respects the budget; the oversized doc is alone
    val fills = Packing.packFfd(df, "id", "tok", 512L, 128L)
      .join(df, "id").groupBy("pack_block", "ffd_bin")
      .agg(sum("tok").as("fill"), count("*").as("n")).collect()
    assert(fills.forall(r => r.getAs[Long]("fill") <= 512L || r.getAs[Long]("n") == 1L))
    assert(got(500L)._2 > 0 && fills.exists(r => r.getAs[Long]("fill") == 2000L))
  }

  test("sentences: terminator runs, trimming, gap-preserving indices") {
    val docs = Seq(
      (1L, "One sentence. Two!! Three?No four..."),
      (2L, "no terminator at all"),
      (3L, "...")                          // only terminators -> no sentences
    ).toDF("doc_id", "text")
    val r = TextAnalysis.sentences(docs, "doc_id", "text")
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getString(2)))
    assert(r.filter(_._1 == 1L).map(t => (t._2, t._3)).toSeq == Seq(
      (0L, "One sentence."), (1L, "Two!!"), (2L, "Three?"), (3L, "No four...")))
    assert(r.filter(_._1 == 2L).map(_._3).toSeq == Seq("no terminator at all"))
    assert(!r.exists(_._1 == 3L))
  }

  test("stripHtml: script/style blocks, tags, entities, whitespace — all handled") {
    val docs = Seq(
      (1L, "<html><script>if (a < b) { x(); }</script><style>p{}</style>" +
        "<p>Hello &amp; welcome</p><div>to &lt;graft&gt;</div></html>"),
      (2L, "no markup at all"),
      (3L, "broken <unclosed and &nbsp; entity")
    ).toDF("doc_id", "text")
    val r = TextAnalysis.stripHtml(docs, "doc_id", "text")
      .collect().map(x => x.getLong(0) -> (x.getString(1), x.getLong(2))).toMap
    assert(r(1L)._1 == "Hello & welcome to <graft>")
    assert(r(2L)._1 == "no markup at all" && r(2L)._2 == 0L)
    // a stray '<' with no closing '>' is NOT a tag — the text survives
    assert(r(3L)._1 == "broken <unclosed and entity", s"got '${r(3L)._1}'")
    // entity-escaped markup shown as text must NOT double-unescape into
    // live tags: &amp; decodes last
    val esc = Seq((9L, "<p>use &amp;lt;b&amp;gt; for bold</p>")).toDF("doc_id", "text")
    val cleaned = TextAnalysis.stripHtml(esc, "doc_id", "text").collect()(0).getString(1)
    assert(cleaned == "use &lt;b&gt; for bold", s"got '$cleaned'")
  }

  test("fixMojibake: ppm survives >2147 damaged chars (BIGINT widening)") {
    val big = Seq((1L, "Ã©" * 3000)).toDF("doc_id", "text") // 6000 chars, 3000 leads
    val r = TextAnalysis.fixMojibake(big, "doc_id", "text").collect()(0)
    assert(r.getLong(1) == 500000L, s"ppm ${r.getLong(1)}")
    assert(r.getString(2) == "é" * 3000)
  }

  test("decodeVideo: truncated and hostile-size AVIs yield partial frames, never hang or throw") {
    implicit val s = spark
    val good = graft.operators.Multimodal
      .syntheticAviAsciiTable(Seq(5L).toDF("doc_id"), "doc_id", k = 4)
      .select("id", "payload").collect()(0)
    val bytes = good.getAs[Array[Byte]](1)
    // cut mid-frame: parse what fits, drop the rest
    val cut = Seq((5L, java.util.Arrays.copyOfRange(bytes, 0, bytes.length - 37)))
      .toDF("id", "payload")
    val partial = graft.operators.Multimodal.decodeVideo(cut).collect()
    assert(partial.length < 4 && partial.forall(_.frame_ok == false))
    // corrupt a chunk size to a huge/high-bit value: must terminate cleanly
    val evil = bytes.clone()
    evil(bytes.length - 20) = 0xff.toByte; evil(bytes.length - 19) = 0xff.toByte
    evil(bytes.length - 18) = 0xff.toByte; evil(bytes.length - 17) = 0xff.toByte
    val hostile = Seq((5L, evil)).toDF("id", "payload")
    graft.operators.Multimodal.decodeVideo(hostile).collect() // no hang, no throw
  }

  test("fixMojibake: detects lead-byte ppm and repairs the classic pairs") {
    val docs = Seq(
      (1L, "cafÃ© naÃ¯ve"),   // Ã© damaged, Ã¯ not in the fix list
      (2L, "clean ascii text")
    ).toDF("doc_id", "text")
    val r = TextAnalysis.fixMojibake(docs, "doc_id", "text")
      .collect().map(x => x.getLong(0) -> (x.getLong(1), x.getString(2))).toMap
    assert(r(1L)._2 == "café naÃ¯ve", s"got '${r(1L)._2}'")
    // 12 chars, 2 mojibake lead bytes
    assert(r(1L)._1 == 1000000L * 2 / 12, s"ppm ${r(1L)._1}")
    assert(r(2L) == ((0L, "clean ascii text")))
  }

  test("vocabCoverage: per-doc OOV accounting against a vocab table") {
    val docs = Seq(
      (1L, "the cat sat"),            // all in vocab
      (2L, "the dog sat"),            // 1 OOV of 3
      (3L, "zz qq")                   // all OOV
    ).toDF("doc_id", "text")
    val vocab = Seq("the", "cat", "sat", "CAT").toDF("token") // dup after lower
    val r = TextAnalysis.vocabCoverage(docs, vocab, "doc_id", "text")
      .collect().map(x => x.getLong(0) -> (x.getLong(1), x.getLong(2), x.getLong(3))).toMap
    assert(r(1L) == ((3L, 3L, 0L)))
    assert(r(2L) == ((3L, 2L, 333333L)))
    assert(r(3L) == ((2L, 0L, 1000000L)))
  }

  test("planBands: S-curve thresholds, divisor tiling, recall-leaning ties") {
    // k=16: (8 bands, 2 rows) threshold (1/8)^(1/2) ~ 0.354 — the repo's
    // own default pairing for ~0.35-target dedup
    assert(Dedup.planBands(16, 0.35) == ((8, 2)))
    // high target -> few bands, long rows
    val (bHi, rHi) = Dedup.planBands(16, 0.9)
    assert(bHi * rHi == 16 && math.pow(1.0 / bHi, 1.0 / rHi) > 0.6)
    // low target -> many bands
    val (bLo, rLo) = Dedup.planBands(16, 0.05)
    assert(bLo * rLo == 16 && bLo >= 8)
    // every choice tiles the signature
    for (k <- Seq(12, 16, 24, 64); t <- Seq(0.2, 0.5, 0.8)) {
      val (b, r) = Dedup.planBands(k, t)
      assert(b * r == k, s"k=$k t=$t -> ($b,$r)")
    }
  }

  test("incrementalBloomWith: a prebuilt sketch reused across two batches stays exact") {
    val seen = (1L to 500L).map(i => s"seen $i").toDF("text")
      .select(md5($"text").as("digest"))
    val sketch = Dedup.buildDigestSketch(seen, expectedItems = 2048, fpp = 0.01)
    val b1 = (400L to 600L).map(i => (i, s"seen $i")).toDF("doc_id", "text")
    val b2 = (550L to 700L).map(i => (i, s"seen $i")).toDF("doc_id", "text")
    for (b <- Seq(b1, b2)) {
      val exact = Dedup.incrementalExact(b, seen, "doc_id", "text")
        .collect().map(_.getLong(0)).toSet
      val got = Dedup.incrementalBloomWith(b, seen, sketch, "doc_id", "text")
        .collect().map(_.getLong(0)).toSet
      assert(got == exact)
      // broadcast sketch transport (threshold 0): bit-identical to the
      // literal spelling — the exact-dedup side of the §10a contract
      val viaBc = Dedup.incrementalBloomWith(b, seen, sketch, "doc_id", "text",
        broadcastThresholdBytes = 0)
        .collect().map(_.getLong(0)).toSet
      assert(viaBc == exact)
    }
  }

  test("dsirWeights: target-like docs outscore junk, feature count is grams") {
    val corpus = Seq(
      (1L, "alpha beta gamma"),          // target-like
      (2L, "zz qq xx yy"),               // junk: no target grams
      (3L, "alpha beta qq")              // partial overlap -> between
    ).toDF("doc_id", "text")
    val target = Seq("alpha beta gamma", "alpha beta delta").toDF("text")
    val r = TextAnalysis.dsirWeights(corpus, target, corpus, "doc_id", "text",
        buckets = 1 << 14)
      .collect().map(x => x.getLong(0) -> (x.getLong(1), x.getLong(2))).toMap
    assert(r(1L)._1 == 5L, "3 unigrams + 2 bigrams")
    assert(r(2L)._1 == 7L)
    assert(r(1L)._2 > r(3L)._2 && r(3L)._2 > r(2L)._2,
      s"expected target-like > partial > junk, got $r")
    // deterministic: same input, same scores
    val again = TextAnalysis.dsirWeights(corpus, target, corpus, "doc_id", "text",
        buckets = 1 << 14)
      .collect().map(x => x.getLong(0) -> (x.getLong(1), x.getLong(2))).toMap
    assert(again == r)
  }

  test("bloom_agg/bloom_might_contain: no false negatives, well-sized sketch prunes") {
    graft.functions.TajoFunctions.register(spark)
    val numBits = org.apache.spark.util.sketch.BloomFilter.optimalNumOfBits(4096, 0.01)
    val sketch = (1L to 2000L).map(i => s"member $i").toDF("v")
      .select(call_function("bloom_agg", xxhash64($"v"), lit(4096L), lit(numBits)).as("b"))
      .head.getAs[Array[Byte]](0)
    val probe = ((1L to 2000L).map(i => (s"member $i", true)) ++
      (1L to 2000L).map(i => (s"outsider $i", false))).toDF("v", "member")
    val hits = probe.withColumn("mc",
        call_function("bloom_might_contain", lit(sketch), xxhash64($"v")))
      .groupBy("member").agg(sum(when($"mc", 1).otherwise(0)).as("n"))
      .collect().map(r => r.getBoolean(0) -> r.getLong(1)).toMap
    assert(hits(true) == 2000L, "a Bloom false negative is impossible")
    assert(hits(false) < 100L, s"fpp 1% sketch should prune outsiders, got ${hits(false)}")
  }

  test("paragraphDedup: keep-first occurrence, ordered reassembly, emptied full dup") {
    val d = Seq(
      (1L, "A\n\nB"),
      (2L, "B\n\nC"),       // B first seen in doc 1 -> only C survives
      (3L, "A\n\nB"),       // every paragraph seen earlier -> emptied
      (4L, "C\n\nA\n\nD")   // C (doc 2) and A (doc 1) dup -> D survives
    ).toDF("doc_id", "text")
    val r = Dedup.paragraphDedup(d, "doc_id", "text")
      .orderBy("doc_id").collect()
      .map(x => (x.getLong(0), x.getAs[Long]("total_paras"),
        x.getAs[Long]("kept_paras"), x.getAs[String]("text")))
    assert(r.toSeq == Seq(
      (1L, 2L, 2L, "A\n\nB"), (2L, 2L, 1L, "C"),
      (3L, 2L, 0L, ""), (4L, 3L, 1L, "D")))
    // custom separator path (regex metachars must be quoted)
    val s = Seq((1L, "x . y"), (2L, "x . z")).toDF("doc_id", "text")
    val r2 = Dedup.paragraphDedup(s, "doc_id", "text", sep = " . ")
      .orderBy("doc_id").collect().map(_.getAs[String]("text"))
    assert(r2.toSeq == Seq("x . y", "z"))
    // NULL-text docs survive (coalesced to ''): they behave like a doc
    // with one empty paragraph, not like a dropped row (ADVICE r8)
    val n = Seq((1L, "A"), (2L, null.asInstanceOf[String]), (3L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val r3 = Dedup.paragraphDedup(n, "doc_id", "text")
      .orderBy("doc_id").collect()
      .map(x => (x.getLong(0), x.getAs[Long]("total_paras"),
        x.getAs[Long]("kept_paras"), x.getAs[String]("text")))
    assert(r3.toSeq == Seq((1L, 1L, 1L, "A"), (2L, 1L, 1L, ""), (3L, 1L, 0L, "")))
  }

  test("gopherRules: each rule trips on its crafted violation, clean doc passes") {
    val clean = ("the of " + Seq.fill(58)("word").mkString(" ")) // 60 words, 2 stopwords
    val fixtures = Seq(
      (1L, clean),                       // passes all 7
      (2L, "the of word"),               // word count < 50
      (3L, "- " + clean),                // 100% bullet lines
      (4L, clean + "..."),               // 100% ellipsis-terminated lines
      (5L, ("the of " + Seq.fill(58)("123").mkString(" "))), // 3% alpha words
      (6L, Seq.fill(60)("word").mkString(" ")),              // 0 stopword hits
      (7L, clean + " " + Seq.fill(12)("#").mkString(" "))    // symbol ratio 12/72 > 0.1
    ).toDF("doc_id", "text")
    val r = TextAnalysis.gopherRules(fixtures, "doc_id", "text")
      .orderBy("doc_id").collect()
      .map(x => (x.getAs[Long]("doc_id"), x.getAs[Int]("gopher_pass"),
        (x.getAs[Int]("r_word_count"), x.getAs[Int]("r_bullet"),
         x.getAs[Int]("r_ellipsis_line"), x.getAs[Int]("r_alpha"),
         x.getAs[Int]("r_stopword"), x.getAs[Int]("r_symbol"))))
    assert(r.map(t => (t._1, t._2)).toSeq ==
      Seq((1L, 1), (2L, 0), (3L, 0), (4L, 0), (5L, 0), (6L, 0), (7L, 0)))
    val flags = r.map(t => t._1 -> t._3).toMap
    assert(flags(2L)._1 == 0) // word count
    assert(flags(3L)._2 == 0) // bullet
    assert(flags(4L)._3 == 0) // ellipsis line
    assert(flags(5L)._4 == 0) // alpha
    assert(flags(6L)._5 == 0) // stopword
    assert(flags(7L)._6 == 0) // symbol
    // each violation trips ONLY its own rule (doc 1 vs doc N flag deltas)
    assert(flags(3L).productIterator.zipWithIndex.count { case (v, _) => v == 0 } == 1)
  }

  test("simhashNearDups: band join finds exactly the brute-force hamming pairs") {
    val corpus = Tables.table(spark, sfDir, "documents")
    val banded = Dedup.simhashNearDups(corpus, "doc_id", "text", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // Independent brute force over the collected signatures — validates the
    // pigeonhole claim: hamming <= bands-1 implies one identical band.
    val sigs = Dedup.simhash(corpus, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val brute = (for {
      (d1, s1) <- sigs; (d2, s2) <- sigs if d1 < d2
      h = java.lang.Long.bitCount(s1 ^ s2) if h <= 3
    } yield (d1, d2, h.toLong)).toSet
    assert(banded == brute)
    assert(brute.nonEmpty) // the check must not pass vacuously
    // exact duplicates are hamming-0 pairs
    val two = Seq((1L, "same text here twice"), (2L, "same text here twice")).toDF("doc_id", "text")
    val r = Dedup.simhashNearDups(two, "doc_id", "text").collect()
    assert(r.map(x => (x.getLong(0), x.getLong(1), x.getLong(2))).toSeq == Seq((1L, 2L, 0L)))
  }

  test("IvfPqResidualIndex: parquet round-trip query is bit-identical to the composed operator") {
    import graft.operators.Similarity
    val vecs = Tables.table(spark, sfDir, "embeddings")
    val probes = vecs.filter(col("vec_id") < 10)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    val dir = java.nio.file.Files.createTempDirectory("ivfpq_idx").toString
    try {
      // the staged writer (each stage written once, corpus scanned exactly
      // twice) — the path q_ann_ivfadc_store ships
      val stored = Similarity.writeIvfPqResidualIndex(vecs, "vec_id", "embedding", dir)
      // one committed version of the three tables; the reclaim deleted
      // the residual stage's segment, which no manifest references
      val snap = graft.operators.VersionedStore.snapshot(spark, dir)
      assert(snap.version == 1L && snap.tableNames == Seq("cent", "codebook", "codes"))
      assert(new java.io.File(s"$dir/_segments").list().length == 3,
        "the residual stage's segment must be reclaimed")
      // ADC-only path (integer distances: equality must be exact)
      val composedAdc = Similarity.ivfPqResidualTopK(
        vecs, probes, "vec_id", "embedding", k = 5, nProbe = 4)
      val storedAdc = Similarity.queryIvfPqResidual(
        stored, vecs, probes, "vec_id", "embedding", k = 5, nProbe = 4)
      assert(rows(storedAdc) == rows(composedAdc))
      assert(rows(composedAdc).nonEmpty)
      // IVFADC+R path (exact-cosine doubles: IEEE bits survive parquet)
      val composedRr = Similarity.ivfPqResidualTopK(
        vecs, probes, "vec_id", "embedding", k = 5, nProbe = 4, rerank = 10)
      val storedRr = Similarity.queryIvfPqResidual(
        stored, vecs, probes, "vec_id", "embedding", k = 5, nProbe = 4, rerank = 10)
      assert(rows(storedRr) == rows(composedRr))
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("IndexFsck: clean state is all-zeros; planted corruption is counted exactly") {
    import graft.operators.{AggState, IndexFsck, Retrieval, Similarity}
    def report(df: org.apache.spark.sql.DataFrame): Map[(String, String), Long] =
      df.collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val docs = Tables.table(spark, sfDir, "documents")
      .filter($"doc_id" < 80).select("doc_id", "text")
    val bdir = java.nio.file.Files.createTempDirectory("fsck_bm25").toString
    val adir = java.nio.file.Files.createTempDirectory("fsck_agg").toString
    val vdir = java.nio.file.Files.createTempDirectory("fsck_ivf").toString
    val mdir = java.nio.file.Files.createTempDirectory("fsck_mh").toString
    try {
      // clean builds: every invariant holds
      Dedup.writeMinhashIndex(docs, "doc_id", "text", mdir)
      Retrieval.writeBm25Index(docs, "doc_id", "text", bdir, termShards = 2)
      val li = Tables.table(spark, sfDir, "lineitem")
        .select("l_returnflag", "l_linestatus", "l_quantity")
      AggState.writeAggState(li, adir, Seq("l_returnflag", "l_linestatus"), Seq("l_quantity"))
      val ivf = Similarity.writeIvfPqResidualIndex(
        Tables.table(spark, sfDir, "embeddings").filter($"vec_id" < 150),
        "vec_id", "embedding", vdir)
      val cleanClusters = Dedup.duplicateClusters(
        Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("d1", "d2"))
      val clean = report(IndexFsck.checkMinhash(spark, mdir)
        .unionAll(IndexFsck.checkBm25(spark, bdir))
        .unionAll(IndexFsck.checkAggState(spark, adir))
        .unionAll(IndexFsck.checkClusterAssignment(cleanClusters))
        .unionAll(IndexFsck.checkIvfPq(spark, vdir)))
      assert(clean.size == 21 && clean.values.forall(_ == 0L),
        s"clean state must report zero violations everywhere: $clean")
      // minhash: a torn append (sigs landed, bands did not) is an id-set
      // mismatch; a retried full append doubles the band count
      val tornSigs = Dedup.minhashSignature(
        docs.filter($"doc_id" < 3).select($"doc_id" + 7000L as "doc_id", $"text"),
        "doc_id", "text").localCheckpoint()
      val nTorn = tornSigs.count()
      tornSigs.write.mode("append").parquet(s"$mdir/sigs")
      val mrep = report(IndexFsck.checkMinhash(spark, mdir))
      assert(mrep(("minhash", "sig_band_id_mismatch")) == nTorn &&
        mrep(("minhash", "wrong_band_count")) == 0L)
      // one plant per family, each counted exactly
      graft.queries.OperatorQueries.plantUncommittedAppend(spark,
        docs.filter($"doc_id" < 5).select($"doc_id" + 5000L as "doc_id", $"text"), bdir)
      assert(report(IndexFsck.checkBm25(spark, bdir))(("bm25", "orphan_segments")) == 2L)
      graft.queries.OperatorQueries.plantUncommittedAppend(spark,
        AggState.partials(li.filter($"l_returnflag" === "R"),
          Seq("l_returnflag", "l_linestatus"), Seq("l_quantity"), "torn"), adir)
      assert(report(IndexFsck.checkAggState(spark, adir))(("agg_state", "orphan_segments")) == 2L)
      val torn = cleanClusters.unionAll(Seq((99L, 98L)).toDF("doc_id", "keeper"))
      val rep = report(IndexFsck.checkClusterAssignment(torn))
      assert(rep(("cluster", "dangling_keepers")) == 1L &&
        rep(("cluster", "keeper_above_doc")) == 0L)
      // identical duplicate rows: flagged by duplicate_doc_rows, and must
      // NOT fan out the join-based checks (distinct keeper rows)
      val dupped = cleanClusters.unionAll(cleanClusters.limit(2))
      val drep = report(IndexFsck.checkClusterAssignment(dupped))
      assert(drep(("cluster", "duplicate_doc_rows")) == 2L &&
        drep(("cluster", "keeper_not_fixpoint")) == 0L &&
        drep(("cluster", "dangling_keepers")) == 0L)
      graft.queries.OperatorQueries.plantUncommittedAppend(spark,
        ivf.codes.filter($"__cid" % 40 === 0).withColumn("__cid", $"__cid" + 5000L), vdir)
      assert(report(IndexFsck.checkIvfPq(spark, vdir))(("ivf_pq", "orphan_segments")) == 2L)
    } finally Seq(bdir, adir, vdir, mdir).foreach(d =>
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(d)))
  }

  test("torn rebuild markers: crashed minhash rebuilds and cluster seeds refuse reads until re-run") {
    val docs = Tables.table(spark, sfDir, "documents")
      .filter($"doc_id" < 100).select("doc_id", "text")
    val mdir = java.nio.file.Files.createTempDirectory("mh_reb_torn").toString
    try {
      // minhash: a rebuild that died between the sigs and bands overwrites
      // leaves both tables readable — only the marker flags the mixed build
      Dedup.writeMinhashIndex(docs, "doc_id", "text", mdir)
      new java.io.File(s"$mdir/_rebuild_intent").createNewFile()
      val e1 = intercept[IllegalArgumentException](Dedup.MinhashIndex.read(spark, mdir))
      assert(e1.getMessage.contains("torn writeMinhashIndex"))
      Dedup.writeMinhashIndex(docs, "doc_id", "text", mdir) // the remedy
      assert(!new java.io.File(s"$mdir/_rebuild_intent").exists())
      // cluster seed: meta stamped, assignment overwrite never ran
      Dedup.writeClusterState(spark, mdir, "doc_id")
      new java.io.File(s"$mdir/_cluster_seed_intent").createNewFile()
      val e2 = intercept[IllegalArgumentException](Dedup.readClusterState(spark, mdir))
      assert(e2.getMessage.contains("torn cluster-state seed"))
      intercept[IllegalArgumentException](Dedup.foldClusterState(spark, mdir,
        Seq.empty[(Long, Long)].toDF("new_id", "corpus_id"),
        Seq.empty[(Long, Long)].toDF("d1", "d2")))
      Dedup.writeClusterState(spark, mdir, "doc_id") // the remedy
      assert(!new java.io.File(s"$mdir/_cluster_seed_intent").exists())
      assert(Dedup.readClusterState(spark, mdir).count() >= 0)
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(mdir))
  }

  test("IvfPqResidualIndex: a crashed rebuild in place leaves the previous build serving; re-run equals a fresh build") {
    import graft.operators.{IndexFsck, VersionedStore}
    val vecs = Tables.table(spark, sfDir, "embeddings").select("vec_id", "embedding")
    val first = vecs.filter($"vec_id" < 150)
    val second = vecs.filter($"vec_id".between(50, 199))
    val probes = vecs.filter($"vec_id" < 10)
    def content(idx: Similarity.IvfPqResidualIndex) =
      Seq(idx.cent, idx.codebook, idx.codes).map(_.collect().map(_.toSeq).toSet)
    def q(idx: Similarity.IvfPqResidualIndex) = Similarity.queryIvfPqResidual(
      idx, vecs, probes, "vec_id", "embedding", k = 5, nProbe = 2).collect().toSet
    val dir = java.nio.file.Files.createTempDirectory("ivfpq_reb_crash").toString
    val freshDir = java.nio.file.Files.createTempDirectory("ivfpq_reb_fresh").toString
    try {
      val built = Similarity.writeIvfPqResidualIndex(first, "vec_id", "embedding", dir)
      val before = (content(built), q(built))
      // the rebuild over `second` wrote its stages, then died before its
      // commit: new quantizers beside old codes are never visible together
      val fresh = Similarity.writeIvfPqResidualIndex(second, "vec_id", "embedding", freshDir)
      Seq(fresh.cent, fresh.codebook, fresh.codes).foreach(t =>
        graft.queries.OperatorQueries.plantUncommittedAppend(spark, t, dir))
      val mid = Similarity.IvfPqResidualIndex.read(spark, dir)
      assert((content(mid), q(mid)) == before)
      assert(IndexFsck.checkIvfPq(spark, dir).filter($"check" === "orphan_segments")
        .head().getLong(2) == 6L)
      // the re-run: one commit of the three tables, debris reclaimed
      val rebuilt = Similarity.writeIvfPqResidualIndex(second, "vec_id", "embedding", dir)
      assert(VersionedStore.versionNumbers(spark, dir) == Seq(2L))
      assert(IndexFsck.checkIvfPq(spark, dir).agg(sum("violations")).head().getLong(0) == 0L)
      assert(content(rebuilt) == content(fresh) && q(rebuilt) == q(fresh))
      // a rebuild in place keeps the stored geometry
      intercept[IllegalArgumentException](
        Similarity.writeIvfPqResidualIndex(second, "vec_id", "embedding", dir, m = 16))
      assert(content(Similarity.IvfPqResidualIndex.read(spark, dir)) == content(fresh))
    } finally Seq(dir, freshDir).foreach(d =>
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(d)))
  }

  test("MinhashIndex: stored-index incremental near-dups equal the composed pipeline") {
    val docs = Tables.table(spark, sfDir, "documents")
    val corpus = docs.filter($"doc_id" < 150)
    // exact recrawls under new ids (16/16 agreement) + tail-perturbed
    // near-dups (partial agreement) + genuinely new docs (no pairs)
    // novel docs are CONSTRUCTED (not sampled from the fixture, whose
    // generator plants dups at random ids — a fixture slice could
    // accidentally contain a near-dup of the corpus)
    val novel = (0 until 20).map(i => (30000L + i,
      (0 until 30).map(j => s"novelword${i}x$j").mkString(" ")))
      .toDF("doc_id", "text")
    val batch = docs.filter($"doc_id".between(120, 149))
      .select(($"doc_id" + 10000L).as("doc_id"), $"text")
      .unionAll(docs.filter($"doc_id" < 120 && $"doc_id" % 5 === 0)
        .select(($"doc_id" + 20000L).as("doc_id"),
          concat($"text", lit(" tail")).as("text")))
      .unionAll(novel)
    val dir = java.nio.file.Files.createTempDirectory("mh_idx").toString
    try {
      val idx = Dedup.writeMinhashIndex(corpus, "doc_id", "text", dir)
      def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSet
      val stored = Dedup.incrementalNearDups(idx, batch, "doc_id", "text")
      // composed spelling: the same functions over in-memory tables — the
      // parquet round trip must not change a single value
      val lazyIdx = Dedup.MinhashIndex(
        Dedup.minhashBands(Dedup.minhashSignature(corpus, "doc_id", "text"), "doc_id"),
        Dedup.minhashSignature(corpus, "doc_id", "text"))
      assert(rows(stored) == rows(Dedup.incrementalNearDups(lazyIdx, batch, "doc_id", "text")))
      val got = stored.collect()
      assert(got.nonEmpty)
      // every exact recrawl is found with full signature agreement
      val recrawls = got.filter(r => r.getLong(0) >= 10000 && r.getLong(0) < 20000)
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      val expectedRecrawl = (120L to 149L).map(i => (i + 10000L, i, 16L)).toSet
      assert(expectedRecrawl.subsetOf(recrawls.toSet),
        "each exact recrawl must match its original at 16/16")
      // genuinely new docs produce no pairs at the default threshold
      assert(!got.exists(_.getLong(0) >= 30000), "novel docs must not match")
      // threshold contract: every emitted pair meets minMatches and
      // est_jaccard is exactly matches/16
      got.foreach { r =>
        assert(r.getLong(2) >= 8L)
        assert(r.getDouble(3) == r.getLong(2).toDouble / 16.0)
      }
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("MinhashIndex append: next batch matches appended docs, prior results unchanged") {
    val docs = Tables.table(spark, sfDir, "documents")
    val corpus = docs.filter($"doc_id" < 100)
    val batch1 = docs.filter($"doc_id".between(80, 99))
      .select(($"doc_id" + 10000L).as("doc_id"), $"text")
    val batch2 = docs.filter($"doc_id".between(80, 99) && $"doc_id" % 2 === 0)
      .select(($"doc_id" + 20000L).as("doc_id"), concat($"text", lit(" tail")).as("text"))
    val dir = java.nio.file.Files.createTempDirectory("mh_idx_app").toString
    try {
      val idx0 = Dedup.writeMinhashIndex(corpus, "doc_id", "text", dir)
      def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSet
      val before = rows(Dedup.incrementalNearDups(idx0, batch2, "doc_id", "text"))
      val idx1 = Dedup.appendMinhashIndex(batch1, "doc_id", "text", dir)
      val after = rows(Dedup.incrementalNearDups(idx1, batch2, "doc_id", "text"))
      // pre-append pairs all survive (append only ADDS index rows)
      assert(before.subsetOf(after))
      // batch1 recrawls carry the IDENTICAL signature as their corpus
      // originals (same text), so after the append every match against an
      // original must be mirrored by a match against its recrawl with the
      // same sig_matches — the appended rows are genuinely in the index
      val pairs = after.map(r => ((r(0).asInstanceOf[Long],
        r(1).asInstanceOf[Long]), r(2).asInstanceOf[Long]))
      val vsOriginal = pairs.filter { case ((_, cid), _) => cid >= 80L && cid < 100L }
      assert(vsOriginal.nonEmpty, "batch2 must match some corpus originals")
      vsOriginal.foreach { case ((nid, cid), m) =>
        assert(pairs.contains(((nid, cid + 10000L), m)),
          s"match ($nid, $cid, $m) has no mirrored match on the appended recrawl")
      }
      // a fresh read of the directory sees the same appended index
      assert(rows(Dedup.incrementalNearDups(
        Dedup.MinhashIndex.read(spark, dir), batch2, "doc_id", "text")) == after)
      // retry idempotence: a re-run append (the documented recovery after
      // a partial failure) duplicates index rows but must not change
      // query output — the verify join dedupes per (new_id, corpus_id)
      val idx2 = Dedup.appendMinhashIndex(batch1, "doc_id", "text", dir)
      assert(rows(Dedup.incrementalNearDups(idx2, batch2, "doc_id", "text")) == after)
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("MinhashIndex bloom prefilter: exact at any sketch size, prunes novel band rows") {
    val docs = Tables.table(spark, sfDir, "documents")
    val corpus = docs.filter($"doc_id" < 100)
    val novel = (0 until 30).map(i => (40000L + i,
      (0 until 30).map(j => s"bloomword${i}y$j").mkString(" "))).toDF("doc_id", "text")
    val batch = docs.filter($"doc_id".between(80, 99))
      .select(($"doc_id" + 10000L).as("doc_id"), $"text")
      .unionAll(novel)
    val dir = java.nio.file.Files.createTempDirectory("mh_idx_bloom").toString
    try {
      def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSet
      val idx = Dedup.writeMinhashIndex(corpus, "doc_id", "text", dir)
      val plain = rows(Dedup.incrementalNearDups(idx, batch, "doc_id", "text"))
      assert(plain.nonEmpty)
      // well-sized sketch: bit-identical output
      val sized = Dedup.buildBandSketch(idx, expectedItems = 4096, fpp = 0.01)
      assert(rows(Dedup.incrementalNearDupsBloom(
        idx, batch, "doc_id", "text", sized)) == plain)
      // pathologically under-sized (saturated) sketch: everything
      // might-contain, so it degrades to the plain join — still exact
      val saturated = Dedup.buildBandSketch(idx, expectedItems = 2, fpp = 0.5)
      assert(rows(Dedup.incrementalNearDupsBloom(
        idx, batch, "doc_id", "text", saturated)) == plain)
      // the prefilter genuinely prunes: with the well-sized sketch, the
      // novel docs' band rows are (overwhelmingly) discarded map-side —
      // count survivors directly through the same probe expression
      graft.functions.TajoFunctions.register(spark)
      val novelBands = Dedup.minhashBands(
        Dedup.minhashSignature(novel, "doc_id", "text"), "doc_id")
      val survivors = novelBands.filter(call_function("bloom_might_contain",
        lit(sized), xxhash64(col("band"), col("band_key")))).count()
      val total = novelBands.count()
      assert(survivors < total / 2,
        s"prefilter must discard most novel band rows ($survivors of $total survived)")
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("MinhashIndex compact: drops tombstoned ids, collapses duplicates, preserves results") {
    val docs = Tables.table(spark, sfDir, "documents")
    val corpus = docs.filter($"doc_id" < 100)
    val batch1 = docs.filter($"doc_id".between(80, 99))
      .select(($"doc_id" + 10000L).as("doc_id"), $"text")
    val batch2 = docs.filter($"doc_id".between(80, 99) && $"doc_id" % 2 === 0)
      .select(($"doc_id" + 20000L).as("doc_id"), concat($"text", lit(" tail")).as("text"))
    val dir = java.nio.file.Files.createTempDirectory("mh_idx_cmp").toString
    try {
      def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSet
      Dedup.writeMinhashIndex(corpus, "doc_id", "text", dir)
      val once = Dedup.appendMinhashIndex(batch1, "doc_id", "text", dir)
      val reference = rows(Dedup.incrementalNearDups(once, batch2, "doc_id", "text"))
      Dedup.appendMinhashIndex(batch1, "doc_id", "text", dir) // retried append
      // pure compaction (no drops): results identical, row counts minimal
      val compacted = Dedup.compactMinhashIndex(spark, dir)
      assert(rows(Dedup.incrementalNearDups(compacted, batch2, "doc_id", "text")) == reference)
      val nIds = corpus.count() + batch1.count()
      assert(compacted.sigs.count() == nIds, "sigs must hold one row per id after compaction")
      assert(compacted.bands.count() == nIds * 8, "bands must hold one row per (id, band)")
      assert(!new java.io.File(s"$dir/_sigs_compact").exists)
      assert(!new java.io.File(s"$dir/_sigs_old").exists)
      // tombstoned originals stop matching; appended recrawls keep matching
      val dropped = corpus.filter($"doc_id".between(80, 99)).select("doc_id")
      val tomb = Dedup.compactMinhashIndex(spark, dir, dropIds = Some(dropped))
      val after = rows(Dedup.incrementalNearDups(tomb, batch2, "doc_id", "text"))
      assert(after == reference.filterNot(r =>
        { val cid = r(1).asInstanceOf[Long]; cid >= 80L && cid < 100L }),
        "compaction with drops must remove exactly the tombstoned ids' matches")
      assert(after.exists(r => r(1).asInstanceOf[Long] >= 10000L),
        "appended recrawls must still match after the originals are dropped")
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("MinhashIndex meta: build params stamped, validated loudly, survive compaction") {
    val base = Tables.table(spark, sfDir, "documents")
    val corpus = base.filter($"doc_id" < 60)
    val batch = base.filter($"doc_id".between(40, 59))
      .select(($"doc_id" + 10000L).as("doc_id"), $"text")
    val dir = java.nio.file.Files.createTempDirectory("mh_idx_meta").toString
    try {
      val idx = Dedup.writeMinhashIndex(corpus, "doc_id", "text", dir)
      assert(idx.meta.contains(Dedup.MinhashMeta(16, 3, 8, 2)))
      // query-side mismatch fails loudly with stored-vs-passed in the message
      val e1 = intercept[IllegalArgumentException] {
        Dedup.incrementalNearDups(idx, batch, "doc_id", "text",
          k = 8, shingleN = 3, bands = 4, rowsPerBand = 2)
      }
      assert(e1.getMessage.contains("MinhashMeta(16,3,8,2)")
        && e1.getMessage.contains("MinhashMeta(8,3,4,2)"),
        s"message must carry stored and passed params: ${e1.getMessage}")
      // a shingleN-only mismatch (same banding arithmetic) is caught too
      intercept[IllegalArgumentException] {
        Dedup.incrementalNearDups(idx, batch, "doc_id", "text", shingleN = 4)
      }
      // the Bloom spelling validates the same way
      val sketch = Dedup.buildBandSketch(idx, expectedItems = 4096)
      intercept[IllegalArgumentException] {
        Dedup.incrementalNearDupsBloom(idx, batch, "doc_id", "text", sketch,
          k = 8, shingleN = 3, bands = 4, rowsPerBand = 2)
      }
      // append-side mismatch throws BEFORE any rows land
      val sigsBefore = idx.sigs.count()
      intercept[IllegalArgumentException] {
        Dedup.appendMinhashIndex(batch, "doc_id", "text", dir,
          k = 8, shingleN = 3, bands = 4, rowsPerBand = 2)
      }
      assert(Dedup.MinhashIndex.read(spark, dir).sigs.count() == sigsBefore,
        "a rejected append must not have written any sig rows")
      // compaction preserves the tag (meta is a sibling file of the swap)
      Dedup.compactMinhashIndex(spark, dir)
      assert(Dedup.MinhashIndex.read(spark, dir).meta
        .contains(Dedup.MinhashMeta(16, 3, 8, 2)))
      // legacy untagged directory: read yields meta None (no validation
      // possible), and the first append tags it with the passed params
      val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(
        spark.sessionState.newHadoopConf())
      fs.delete(new org.apache.hadoop.fs.Path(s"$dir/_meta.json"), false)
      assert(Dedup.MinhashIndex.read(spark, dir).meta.isEmpty)
      Dedup.appendMinhashIndex(batch, "doc_id", "text", dir)
      assert(Dedup.MinhashIndex.read(spark, dir).meta
        .contains(Dedup.MinhashMeta(16, 3, 8, 2)))
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("crossIndexNearDups: equals the incremental query on the same data, validates params") {
    val base = Tables.table(spark, sfDir, "documents")
    val corpusA = base.filter($"doc_id" < 100)
    val corpusB = base.filter($"doc_id".between(80, 99))
      .select(($"doc_id" + 10000L).as("doc_id"), $"text")
    val dir = java.nio.file.Files.createTempDirectory("mh_idx_x").toString
    try {
      val idxA = Dedup.writeMinhashIndex(corpusA, "doc_id", "text", s"$dir/a")
      val idxB = Dedup.writeMinhashIndex(corpusB, "doc_id", "text", s"$dir/b")
      val cross = Dedup.crossIndexNearDups(idxA, idxB, "doc_id")
        .collect().map(_.toSeq).toSet
      // the index-vs-index join must agree exactly with the text-driven
      // incremental query of the SAME b-side content against index A
      // (modulo the (a_id, b_id) column orientation)
      val viaIncremental = Dedup.incrementalNearDups(idxA, corpusB, "doc_id", "text")
        .select($"corpus_id", $"new_id", $"sig_matches", $"est_jaccard")
        .collect().map(_.toSeq).toSet
      assert(cross.nonEmpty && cross == viaIncremental)
      // build-param mismatch between the two indexes fails loudly
      val idxC = Dedup.writeMinhashIndex(corpusB, "doc_id", "text", s"$dir/c",
        k = 8, bands = 4, rowsPerBand = 2)
      intercept[IllegalArgumentException] {
        Dedup.crossIndexNearDups(idxA, idxC, "doc_id")
      }
      // passed k inconsistent with the stored tags fails loudly too
      intercept[IllegalArgumentException] {
        Dedup.crossIndexNearDups(idxA, idxB, "doc_id", k = 8, minMatches = 4)
      }
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("mergeClusters: incremental fold equals full CC recompute (bridge, pull-in, untouched)") {
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSet
    // corpus clusters {1,2}, {3,4}, {7,8}; 5 is a corpus singleton
    val corpusPairs = Seq((1L, 2L), (3L, 4L), (7L, 8L)).toDF("d1", "d2")
    val stored = Dedup.duplicateClusters(corpusPairs)
    // 101 bridges {1,2} and {3,4} (a MERGE of two stored clusters);
    // 102 pulls in the singleton 5; 103-104 is a batch-only cluster
    val cross = Seq((101L, 2L), (101L, 3L), (102L, 5L)).toDF("new_id", "corpus_id")
    val inBatch = Seq((103L, 104L)).toDF("d1", "d2")
    val got = Dedup.mergeClusters(stored, cross, inBatch)
    val full = Dedup.duplicateClusters(corpusPairs
      .unionAll(cross.select($"new_id".as("d1"), $"corpus_id".as("d2")))
      .unionAll(inBatch))
    assert(rows(got) == rows(full))
    val byId = got.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // merged: every member of both old clusters + the bridge doc -> global min 1
    assert(Seq(1L, 2L, 3L, 4L, 101L).forall(byId(_) == 1L))
    // singleton pulled in under its own (smaller) id
    assert(byId(5L) == 5L && byId(102L) == 5L)
    // untouched cluster keeps its stored keeper
    assert(byId(7L) == 7L && byId(8L) == 7L)
    // batch-only cluster
    assert(byId(103L) == 103L && byId(104L) == 103L)
    // docs in no pair have no row
    assert(!byId.contains(6L))
  }

  test("mergeClusters: randomized incremental == full recompute across seeds") {
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSet
    for (seed <- Seq(7, 41, 113)) {
      val rnd = new scala.util.Random(seed)
      val corpusIds = (1L to 40L).toSeq
      val batchIds = (101L to 120L).toSeq
      def pick[T](xs: Seq[T]) = xs(rnd.nextInt(xs.size))
      val corpusPairs = Seq.fill(25)((pick(corpusIds), pick(corpusIds)))
        .filter(p => p._1 != p._2).toDF("d1", "d2")
      val cross = Seq.fill(15)((pick(batchIds), pick(corpusIds)))
        .toDF("new_id", "corpus_id")
      val inBatch = Seq.fill(10)((pick(batchIds), pick(batchIds)))
        .filter(p => p._1 != p._2).toDF("d1", "d2")
      val stored = Dedup.duplicateClusters(corpusPairs)
      val got = Dedup.mergeClusters(stored, cross, inBatch)
      val full = Dedup.duplicateClusters(corpusPairs
        .unionAll(cross.select($"new_id".as("d1"), $"corpus_id".as("d2")))
        .unionAll(inBatch))
      assert(rows(got) == rows(full), s"seed $seed diverged from full recompute")
    }
  }

  test("cluster state lifecycle: seed from index, fold batches, recover interrupted swap") {
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSet
    val base = Tables.table(spark, sfDir, "documents")
    val corpus = base.filter($"doc_id" < 150)
    val batch = base.filter($"doc_id".between(120, 149))
      .select(($"doc_id" + 10000L).as("doc_id"), $"text")
      .unionAll(base.filter($"doc_id".between(120, 129))
        .select(($"doc_id" + 20000L).as("doc_id"), $"text"))
    val dir = java.nio.file.Files.createTempDirectory("mh_idx_cc").toString
    try {
      val idx = Dedup.writeMinhashIndex(corpus, "doc_id", "text", dir)
      // seeded state == CC over the index's own verified pair set
      val seeded = Dedup.writeClusterState(spark, dir, "doc_id")
      val selfPairs = Dedup.indexSelfPairs(idx, "doc_id")
      assert(rows(seeded) == rows(Dedup.duplicateClusters(selfPairs)))
      // fold == full recompute over the union of all three pair sets
      val cross = Dedup.incrementalNearDups(idx, batch, "doc_id", "text")
      val inBatch = Dedup.batchNearDupPairs(batch, "doc_id", "text")
      // capture the row SET once: the DataFrame handle itself goes stale
      // after any later swap (the documented re-read-after-swap rule)
      val folded = rows(Dedup.foldClusterState(spark, dir, cross, inBatch))
      val full = Dedup.duplicateClusters(selfPairs
        .unionAll(cross.select($"new_id".as("d1"), $"corpus_id".as("d2")))
        .unionAll(inBatch.select($"d1", $"d2")))
      assert(folded == rows(full))
      assert(folded.nonEmpty, "recrawl batch must produce clusters")
      // the persisted table equals the returned one
      assert(rows(Dedup.readClusterState(spark, dir)) == folded)
      // crash window: live renamed aside, replacement never landed ->
      // read recovers the pre-fold state
      val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(
        spark.sessionState.newHadoopConf())
      assert(fs.rename(new org.apache.hadoop.fs.Path(s"$dir/clusters"),
        new org.apache.hadoop.fs.Path(s"$dir/_clusters_old")))
      assert(rows(Dedup.readClusterState(spark, dir)) == folded,
        "recovery must restore the cluster table")
      assert(fs.exists(new org.apache.hadoop.fs.Path(s"$dir/clusters")))
      // the documented remedy for a crashed fold is "re-run the fold" —
      // so a DIRECT retry of the swap (no read in between, exactly the
      // streaming engine's at-least-once replay path) must self-recover
      // instead of throwing PATH_NOT_FOUND on the vanished live table
      assert(fs.rename(new org.apache.hadoop.fs.Path(s"$dir/clusters"),
        new org.apache.hadoop.fs.Path(s"$dir/_clusters_old")))
      assert(rows(Dedup.foldClusterState(spark, dir, cross, inBatch)) == folded,
        "a direct fold retry after an interrupted swap must recover and re-fold")
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("cluster-state pair-definition tag: mismatched fold throws and writes nothing; maintenance preserves it") {
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSet
    val base = Tables.table(spark, sfDir, "documents")
    val corpus = base.filter($"doc_id" < 150)
    val batch = base.filter($"doc_id".between(120, 149))
      .select(($"doc_id" + 10000L).as("doc_id"), $"text")
    val dir = java.nio.file.Files.createTempDirectory("mh_idx_cmeta").toString
    val dirB = java.nio.file.Files.createTempDirectory("mh_idx_cmeta_b").toString
    try {
      val idx = Dedup.writeMinhashIndex(corpus, "doc_id", "text", dir)
      Dedup.writeClusterState(spark, dir, "doc_id") // stamps minMatches = 8
      assert(Dedup.ClusterMeta.read(spark, dir)
        .contains(Dedup.ClusterMeta(8, 16, 3, 8, 2)))
      val before = rows(Dedup.readClusterState(spark, dir))
      // pairs verified under a DIFFERENT threshold: the fold throws with
      // stored-vs-passed values BEFORE any write
      val cross6 = Dedup.incrementalNearDups(idx, batch, "doc_id", "text",
        minMatches = 6)
      val inb6 = Dedup.batchNearDupPairs(batch, "doc_id", "text", minMatches = 6)
      val e = intercept[IllegalArgumentException](
        Dedup.foldClusterState(spark, dir, cross6, inb6, minMatches = 6))
      assert(e.getMessage.contains("pair-definition mismatch"))
      assert(rows(Dedup.readClusterState(spark, dir)) == before,
        "a mismatched fold must write nothing")
      // the matched fold proceeds; deletion repair preserves the tag and
      // validates its own threshold
      val cross = Dedup.incrementalNearDups(idx, batch, "doc_id", "text")
      val inb = Dedup.batchNearDupPairs(batch, "doc_id", "text")
      Dedup.foldClusterState(spark, dir, cross, inb)
      Dedup.compactClusterState(spark, dir, corpus.limit(5).select("doc_id"))
      assert(Dedup.ClusterMeta.read(spark, dir)
        .contains(Dedup.ClusterMeta(8, 16, 3, 8, 2)),
        "compaction must preserve the pair-definition tag")
      intercept[IllegalArgumentException](Dedup.compactClusterState(
        spark, dir, corpus.limit(5).select("doc_id"), minMatches = 6))
      // the partitioned layout shares the guard
      Dedup.writeClusterStatePartitioned(spark, dir, "doc_id", buckets = 8)
      intercept[IllegalArgumentException](
        Dedup.foldClusterStatePartitioned(spark, dir, cross6, inb6, minMatches = 6))
      // dir-based merge: a state seeded under a different threshold
      // refuses to merge
      val idxB = Dedup.writeMinhashIndex(
        batch.select(($"doc_id" + 500000L).as("doc_id"), $"text"),
        "doc_id", "text", dirB)
      Dedup.writeClusterState(spark, dirB, "doc_id", minMatches = 6)
      val crossAB = Dedup.crossIndexNearDups(idx, idxB, "doc_id")
      val e2 = intercept[IllegalArgumentException](
        Dedup.mergeClusterStateDirs(spark, dir, dirB, crossAB))
      assert(e2.getMessage.contains("pair-definition mismatch between"))
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dirB))
    }
  }

  test("mergeClusterStates: two-corpus keeper merge equals full CC recompute") {
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSet
    // corpus A clusters {1,2} and {5,6}; corpus B clusters {101,102};
    // cross pairs bridge A's {1,2} with B's {101,102} and pull in the
    // B singleton 103; A's {5,6} stays untouched
    val pairsA = Seq((1L, 2L), (5L, 6L)).toDF("d1", "d2")
    val pairsB = Seq((101L, 102L)).toDF("d1", "d2")
    val cross = Seq((2L, 102L), (1L, 103L)).toDF("a_id", "b_id")
    val storedA = Dedup.duplicateClusters(pairsA)
    val storedB = Dedup.duplicateClusters(pairsB)
    val got = Dedup.mergeClusterStates(storedA, storedB, cross)
    val full = Dedup.duplicateClusters(pairsA.unionAll(pairsB)
      .unionAll(cross.select($"a_id".as("d1"), $"b_id".as("d2"))))
    assert(rows(got) == rows(full))
    val byId = got.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(Seq(1L, 2L, 101L, 102L, 103L).forall(byId(_) == 1L),
      "cross pairs must merge the two corpora's clusters under the global min")
    assert(byId(5L) == 5L && byId(6L) == 5L, "untouched A cluster keeps its keeper")
    // empty cross: the merge is just the union of the two assignments
    assert(rows(Dedup.mergeClusterStates(storedA, storedB,
        Seq.empty[(Long, Long)].toDF("a_id", "b_id")))
      == rows(storedA.unionAll(storedB)))
  }

  test("partitioned cluster state: fold equals plain spelling, rewrites only touched buckets") {
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSet
    // per-bucket file snapshot: partition dir -> sorted part-file names
    // (a rewrite always mints new part-file names)
    def files(dir: String): Map[String, Seq[String]] = {
      val root = new java.io.File(s"$dir/clusters_p_64")
      root.listFiles().filter(_.isDirectory).map(d =>
        d.getName -> d.listFiles().map(_.getName).filter(_.startsWith("part-"))
          .toSeq.sorted).toMap
    }
    // synthetic corpus of 100 exact-twin clusters so the seeded state
    // populates most of the 64 buckets (the sf fixture seeds only a
    // handful of cluster rows — too sparse to observe bucket locality)
    def doc(id: Long, base: Long) =
      (id, (0 until 30).map(j => s"ccp${base}w$j").mkString(" "))
    val corpus = (0L until 100L).flatMap(i => Seq(doc(i, i), doc(i + 1000L, i)))
      .toDF("doc_id", "text")
    val batch = Seq(doc(10000L, 7), doc(10001L, 13)).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("mh_idx_ccp").toString
    try {
      val idx = Dedup.writeMinhashIndex(corpus, "doc_id", "text", dir)
      // plain (corpus-rewrite) spelling is the semantics reference
      Dedup.writeClusterState(spark, dir, "doc_id")
      val seededP = Dedup.writeClusterStatePartitioned(spark, dir, "doc_id", buckets = 64)
      assert(rows(seededP) == rows(Dedup.readClusterState(spark, dir)))
      assert(rows(seededP).size == 200, "every twin doc must have a cluster row")
      val before = files(dir)
      assert(before.size >= 50, s"seed must populate most buckets, got ${before.size}")
      val cross = Dedup.incrementalNearDups(idx, batch, "doc_id", "text")
      val inBatch = Dedup.batchNearDupPairs(batch, "doc_id", "text")
      val plainFold = Dedup.foldClusterState(spark, dir, cross, inBatch)
      val partFold = Dedup.foldClusterStatePartitioned(spark, dir, cross, inBatch)
      assert(rows(partFold) == rows(plainFold))
      assert(rows(partFold).nonEmpty)
      // the fold touched only the buckets holding the two changed rows:
      // every other partition dir keeps its exact part files (a full-table
      // rewrite would mint new names everywhere)
      val after = files(dir)
      val unchanged = before.keySet.filter(k => after.get(k).contains(before(k)))
      assert(unchanged.size >= before.size - 2,
        s"expected all but <=2 of ${before.size} buckets untouched, got ${unchanged.size}")
      assert(after.exists { case (k, v) => !before.get(k).contains(v) },
        "the fold must have rewritten at least one bucket")
      // replay: re-folding the same pairs changes nothing — no bucket is
      // rewritten at all (the changed-row set is empty)
      val snap = files(dir)
      assert(rows(Dedup.foldClusterStatePartitioned(spark, dir, cross, inBatch))
        == rows(partFold))
      assert(files(dir) == snap, "a replayed fold must not rewrite any bucket")
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("partitioned cluster state: every single-bucket torn commit repairs on the re-run") {
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSet
    // triplet clusters so a fold's changed set spans several buckets:
    // {100+i, 1100+i, 2100+i} with keeper 100+i; the batch doc id 50 is
    // SMALLER than its cluster's keeper, forcing a keeper RELABEL (the
    // tear shapes that need repair only arise when a keeper's own row
    // commits while a follower's does not)
    def doc(id: Long, base: Long) =
      (id, (0 until 30).map(j => s"torn${base}w$j").mkString(" "))
    val corpus = (0L until 40L)
      .flatMap(i => Seq(doc(100 + i, i), doc(1100 + i, i), doc(2100 + i, i)))
      .toDF("doc_id", "text")
    val batch = Seq(doc(50L, 7)).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("mh_idx_torn").toString
    try {
      val idx = Dedup.writeMinhashIndex(corpus, "doc_id", "text", dir)
      Dedup.writeClusterStatePartitioned(spark, dir, "doc_id", buckets = 64)
      val dataDir = new java.io.File(s"$dir/clusters_p_64")
      val snap = java.nio.file.Files.createTempDirectory("mh_idx_torn_snap").toFile
      org.apache.commons.io.FileUtils.copyDirectory(dataDir, snap)
      val cross = Dedup.incrementalNearDups(idx, batch, "doc_id", "text")
      val inBatch = Dedup.batchNearDupPairs(batch, "doc_id", "text")
      val expected = rows(Dedup.foldClusterStatePartitioned(spark, dir, cross, inBatch))
      // the relabel must actually have fired or the tear shapes are vacuous
      val byId = expected.map(r => r.head.asInstanceOf[Long] -> r(1).asInstanceOf[Long]).toMap
      assert(Seq(50L, 107L, 1107L, 2107L).forall(byId(_) == 50L),
        s"batch doc 50 must take over cluster 107, got $byId")
      val good = java.nio.file.Files.createTempDirectory("mh_idx_torn_good").toFile
      org.apache.commons.io.FileUtils.copyDirectory(dataDir, good)
      // every bucket whose content differs between pre- and post-fold is a
      // candidate tear point: restore JUST that bucket to its pre-fold
      // content (or remove it if the fold created it), set the inflight
      // marker, and the re-run of the SAME fold must restore the expected
      // state — repair handles torn relabels, the re-run itself restores
      // rows whose bucket never committed
      val touched = dataDir.listFiles().filter(_.isDirectory).map(_.getName)
        .filter { b =>
          val old = new java.io.File(snap, b)
          !old.exists() ||
            old.listFiles().map(_.getName).toSet !=
              new java.io.File(dataDir, b).listFiles().map(_.getName).toSet
        }
      assert(touched.length >= 2, s"need >=2 touched buckets to tear, got ${touched.toSeq}")
      touched.foreach { b =>
        org.apache.commons.io.FileUtils.deleteDirectory(dataDir)
        org.apache.commons.io.FileUtils.copyDirectory(good, dataDir)
        val torn = new java.io.File(dataDir, b)
        org.apache.commons.io.FileUtils.deleteDirectory(torn)
        val old = new java.io.File(snap, b)
        if (old.exists()) org.apache.commons.io.FileUtils.copyDirectory(old, torn)
        new java.io.File(s"$dir/_clusters_p_inflight").createNewFile()
        spark.catalog.refreshByPath(dataDir.toString)
        val rerun = rows(Dedup.foldClusterStatePartitioned(spark, dir, cross, inBatch))
        assert(rerun == expected, s"tear at bucket $b must repair on the re-run")
        assert(!new java.io.File(s"$dir/_clusters_p_inflight").exists()
          || rerun == expected)
      }
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("compactClusterState: dropping a bridge doc splits its cluster, either compaction order") {
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSet
    // sliding-window chain: the two ends each have an exact twin, the
    // middle doc is the only connectivity between them — dropping it must
    // SPLIT the cluster into {901, 911} and {903, 913}
    def chainDoc(id: Long, lo: Int) = (id,
      (lo until lo + 40).map(j => s"chainw$j").mkString(" "))
    val chain = Seq(chainDoc(901L, 0), chainDoc(911L, 0), chainDoc(902L, 10),
      chainDoc(903L, 20), chainDoc(913L, 20)).toDF("doc_id", "text")
    val base = Tables.table(spark, sfDir, "documents")
    val corpus = base.filter($"doc_id" < 100).select($"doc_id", $"text").unionAll(chain)
    val drops = Seq(902L).toDF("doc_id")
    for (indexFirst <- Seq(true, false)) {
      val dir = java.nio.file.Files.createTempDirectory("mh_idx_ccc").toString
      try {
        Dedup.writeMinhashIndex(corpus, "doc_id", "text", dir)
        val before = Dedup.writeClusterState(spark, dir, "doc_id")
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        // seeded: the whole chain is one cluster through the bridge
        assert(Seq(901L, 911L, 902L, 903L, 913L).forall(before(_) == 901L),
          s"chain must seed as one cluster, got $before")
        // the survivor restriction is explicit, so the two compactions
        // commute — exercise both orders
        if (indexFirst) Dedup.compactMinhashIndex(spark, dir, Some(drops))
        val repaired = Dedup.compactClusterState(spark, dir, drops)
        if (!indexFirst) Dedup.compactMinhashIndex(spark, dir, Some(drops))
        // repaired state == full recompute over the shrunken index
        val full = Dedup.duplicateClusters(
          Dedup.indexSelfPairs(Dedup.MinhashIndex.read(spark, dir), "doc_id"))
        assert(rows(repaired) == rows(full))
        val byId = repaired.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(byId(901L) == 901L && byId(911L) == 901L)
        assert(byId(903L) == 903L && byId(913L) == 903L,
          "dropping the bridge must split the chain cluster")
        assert(!byId.contains(902L), "dropped docs must leave the state")
        // untouched fixture clusters keep their assignments
        val untouchedBefore = before.filter { case (d, k) =>
          !Seq(901L, 911L, 902L, 903L, 913L).contains(d) }
        assert(untouchedBefore.forall { case (d, k) => byId.get(d).contains(k) })
      } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("MinhashIndex read recovers from an interrupted compaction swap") {
    val base = Tables.table(spark, sfDir, "documents")
    val corpus = base.filter($"doc_id" < 60)
    val batch = base.filter($"doc_id".between(40, 59))
      .select(($"doc_id" + 10000L).as("doc_id"), $"text")
    val dir = java.nio.file.Files.createTempDirectory("mh_idx_crash").toString
    try {
      def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSet
      val idx = Dedup.writeMinhashIndex(corpus, "doc_id", "text", dir)
      val reference = rows(Dedup.incrementalNearDups(idx, batch, "doc_id", "text"))
      assert(reference.nonEmpty)
      // simulate the compaction swap dying between its two renames for
      // EACH table: live moved aside to _old, replacement never landed
      val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(
        spark.sessionState.newHadoopConf())
      Seq("sigs", "bands").foreach { name =>
        assert(fs.rename(new org.apache.hadoop.fs.Path(s"$dir/$name"),
          new org.apache.hadoop.fs.Path(s"$dir/_${name}_old")))
        val recovered = Dedup.MinhashIndex.read(spark, dir)
        assert(rows(Dedup.incrementalNearDups(recovered, batch, "doc_id", "text"))
          == reference, s"recovery from interrupted $name swap must restore results")
        assert(fs.exists(new org.apache.hadoop.fs.Path(s"$dir/$name"))
          && !fs.exists(new org.apache.hadoop.fs.Path(s"$dir/_${name}_old")),
          s"recovery must rename _${name}_old back into place")
      }
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("Bloom prefilter broadcast spelling: bit-identical to the literal path") {
    val base = Tables.table(spark, sfDir, "documents")
    val corpus = base.filter($"doc_id" < 100)
    val novel = (0 until 20).map(i => (50000L + i,
      (0 until 30).map(j => s"bcword${i}z$j").mkString(" "))).toDF("doc_id", "text")
    val batch = base.filter($"doc_id".between(80, 99))
      .select(($"doc_id" + 10000L).as("doc_id"), $"text")
      .unionAll(novel)
    val dir = java.nio.file.Files.createTempDirectory("mh_idx_bc").toString
    try {
      def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSet
      val idx = Dedup.writeMinhashIndex(corpus, "doc_id", "text", dir)
      val sketch = Dedup.buildBandSketch(idx, expectedItems = 4096)
      val literal = rows(Dedup.incrementalNearDupsBloom(
        idx, batch, "doc_id", "text", sketch))
      // threshold 0 forces EVERY sketch through the broadcast expression
      val viaBroadcast = rows(Dedup.incrementalNearDupsBloom(
        idx, batch, "doc_id", "text", sketch, broadcastThresholdBytes = 0))
      assert(viaBroadcast == literal,
        "broadcast-shipped sketch must produce bit-identical output")
      assert(literal == rows(Dedup.incrementalNearDups(idx, batch, "doc_id", "text")))
      // probe-level agreement: the broadcast expression admits EXACTLY the
      // rows the literal BloomFilterMightContain admits
      graft.functions.TajoFunctions.register(spark)
      val bands = Dedup.minhashBands(
        Dedup.minhashSignature(batch, "doc_id", "text"), "doc_id")
      val bc = spark.sparkContext.broadcast(sketch)
      val probeBc = org.apache.spark.sql.graftbridge.ColumnBridge.column(
        graft.functions.BloomMightContainBc(
          org.apache.spark.sql.graftbridge.ColumnBridge.expression(
            xxhash64(col("band"), col("band_key"))), bc))
      val viaExpr = rows(bands.filter(probeBc))
      val viaLit = rows(bands.filter(call_function("bloom_might_contain",
        lit(sketch), xxhash64(col("band"), col("band_key")))))
      assert(viaExpr == viaLit)
      assert(viaExpr.size < rows(bands).size,
        "the probe must genuinely prune novel band rows in this fixture")
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("appendIvfPqResidualIndex: frozen quantizers encode recrawls identically, old codes untouched") {
    val vecs = Tables.table(spark, sfDir, "embeddings").select("vec_id", "embedding")
    val corpus = vecs.filter($"vec_id" < 150)
    // copies of existing corpus vectors under new ids: under FROZEN
    // centroids/codebooks an identical vector must land in the same cell
    // with the same per-subspace codes as its original
    val batch = vecs.filter($"vec_id".between(100, 149))
      .select(($"vec_id" + 10000L).as("vec_id"), $"embedding")
    val dir = java.nio.file.Files.createTempDirectory("ann_idx_app").toString
    try {
      val idx0 = Similarity.writeIvfPqResidualIndex(corpus, "vec_id", "embedding", dir)
      // geometry tag: stamped at build, validated loudly on append and
      // query (a (dim, m) mismatch mis-slices subspaces silently)
      assert(idx0.meta.contains(Similarity.IvfPqMeta(4, 64, 8, 4)))
      intercept[IllegalArgumentException] {
        Similarity.appendIvfPqResidualIndex(batch, "vec_id", "embedding", dir,
          dim = 64, m = 16)
      }
      intercept[IllegalArgumentException] {
        Similarity.queryIvfPqResidual(idx0, corpus, corpus.limit(1),
          "vec_id", "embedding", k = 5, dim = 32, m = 8)
      }
      def codeMap(df: org.apache.spark.sql.DataFrame) = df
        .collect().map { r =>
          def l(i: Int) = r.get(i).asInstanceOf[Number].longValue()
          ((l(0), l(2)), (l(1), l(3))) // ((id, s), (cell, code))
        }.toSet
      val before = codeMap(idx0.codes)
      val idx1 = Similarity.appendIvfPqResidualIndex(batch, "vec_id", "embedding", dir)
      val after = codeMap(idx1.codes)
      // centroids and codebooks are byte-identical (frozen)
      assert(idx1.cent.collect().map(_.toSeq).toSet
        == idx0.cent.collect().map(_.toSeq).toSet)
      assert(idx1.codebook.collect().map(_.toSeq).toSet
        == idx0.codebook.collect().map(_.toSeq).toSet)
      // old code rows all survive unchanged; exactly the batch rows added
      assert(before.subsetOf(after))
      val added = after -- before
      assert(added.map(_._1._1) == (10100L to 10149L).toSet)
      // every copy encodes exactly like its original
      added.foreach { case ((id, s), enc) =>
        assert(before.contains(((id - 10000L, s), enc)),
          s"copy $id subspace $s encoded differently from its original")
      }
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("compactIvfPqResidualIndex: a replayed append commits nothing, tombstones stop matching, a crashed compaction leaves the previous version serving") {
    import graft.operators.VersionedStore
    val vecs = Tables.table(spark, sfDir, "embeddings").select("vec_id", "embedding")
    val corpus = vecs.filter($"vec_id" < 150)
    val batch = vecs.filter($"vec_id".between(100, 149))
      .select(($"vec_id" + 10000L).as("vec_id"), $"embedding")
    val probes = vecs.filter($"vec_id" < 10)
    val dir = java.nio.file.Files.createTempDirectory("ann_idx_cmp").toString
    try {
      def q(idx: Similarity.IvfPqResidualIndex) = Similarity
        .queryIvfPqResidual(idx, corpus.unionAll(batch), probes,
          "vec_id", "embedding", k = 5, nProbe = 2, rerank = 20)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(4))).toSet
      Similarity.writeIvfPqResidualIndex(corpus, "vec_id", "embedding", dir)
      val once = Similarity.appendIvfPqResidualIndex(batch, "vec_id", "embedding", dir)
      val reference = q(once)
      val onceCount = once.codes.count()
      assert(onceCount == (corpus.count() + batch.count()) * 8)
      // a replayed append (duplicate code rows would DOUBLE summed ADC
      // distances) finds every id coded and commits nothing
      val versions = VersionedStore.versionNumbers(spark, dir)
      val replay = Similarity.appendIvfPqResidualIndex(batch, "vec_id", "embedding", dir)
      assert(VersionedStore.versionNumbers(spark, dir) == versions)
      assert(replay.codes.count() == onceCount)
      // compaction merges the appended segment: one codes segment, same answers
      val compacted = Similarity.compactIvfPqResidualIndex(spark, dir)
      assert(VersionedStore.snapshot(spark, dir).manifest.tables("codes").size == 1)
      assert(compacted.codes.count() == onceCount)
      assert(q(compacted) == reference)
      // tombstoned ids vanish from the codes AND the neighbor lists
      val dropped = vecs.filter($"vec_id".between(140, 149)).select("vec_id")
      val tomb = Similarity.compactIvfPqResidualIndex(spark, dir, Some(dropped))
      assert(tomb.codes.filter($"__cid".between(140, 149)).count() == 0)
      val tombQ = q(tomb)
      assert(!tombQ.exists { case (_, n, _) => n >= 140 && n <= 149 })
      // a compaction that died before its commit: its rewritten codes are
      // an invisible orphan, the previous version serves, the re-run
      // compacts and reclaims
      graft.queries.OperatorQueries.plantUncommittedAppend(spark,
        tomb.codes.filter($"__cid" < 130), dir)
      assert(q(Similarity.IvfPqResidualIndex.read(spark, dir)) == tombQ)
      val again = Similarity.compactIvfPqResidualIndex(spark, dir, Some(dropped))
      assert(q(again) == tombQ)
      assert(graft.operators.IndexFsck.checkIvfPq(spark, dir).agg(sum("violations"))
        .head().getLong(0) == 0L)
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("persisted band sketch: stale sketch misses appended docs, maintained sketch stays exact") {
    val base = Tables.table(spark, sfDir, "documents")
    val corpus = base.filter($"doc_id" < 60)
    // batch1 appends NOVEL docs (constructed words — zero band keys in
    // common with the corpus, so the pre-append sketch cannot cover
    // them); batch2 then tail-perturbs the same docs under new ids — its
    // pairs against the APPENDED docs are exactly what a stale sketch
    // must lose. Recrawled-corpus appends would NOT expose the trap:
    // their band keys are already set in the old sketch.
    def novel(offset: Long, suffix: String) = spark.range(0, 20).selectExpr(
      s"id + $offset AS doc_id",
      "CONCAT(ARRAY_JOIN(TRANSFORM(SEQUENCE(0, 29), j -> " +
        s"CONCAT('skw', CAST(id AS STRING), 'x', CAST(j AS STRING))), ' '), '$suffix') AS text")
    val batch1 = novel(10000L, "")
    val batch2 = novel(20000L, " tail one")
    val dir = java.nio.file.Files.createTempDirectory("mh_idx_sk").toString
    try {
      def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSet
      Dedup.writeMinhashIndex(corpus, "doc_id", "text", dir)
      val stale = Dedup.writeBandSketch(spark, dir, expectedItems = 4096)
      val idx = Dedup.appendMinhashIndex(batch1, "doc_id", "text", dir)
      val expected = rows(Dedup.incrementalNearDups(idx, batch2, "doc_id", "text"))
      val vsAppended = expected.filter(_(1).asInstanceOf[Long] >= 10000L)
      assert(vsAppended.nonEmpty, "batch2 must match appended docs or the test is vacuous")
      // the trap is real: the pre-append sketch loses exactly those pairs
      val viaStale = rows(Dedup.incrementalNearDupsBloom(
        idx, batch2, "doc_id", "text", stale))
      assert(viaStale == expected -- vsAppended,
        "a stale sketch must miss precisely the pairs against appended docs")
      // and closed: append OR-merged the batch keys into the stored sketch
      val maintained = Dedup.readBandSketch(spark, dir).get
      assert(!java.util.Arrays.equals(maintained, stale),
        "append must have rewritten the persisted sketch")
      assert(rows(Dedup.incrementalNearDupsBloom(
        idx, batch2, "doc_id", "text", maintained)) == expected,
        "the maintained sketch must restore exactness")
      // sidecar crash recovery: a writeFileSwap interrupted between its
      // renames leaves only the _old file; the next read restores it
      val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(
        spark.sessionState.newHadoopConf())
      assert(fs.rename(new org.apache.hadoop.fs.Path(s"$dir/_sketch"),
        new org.apache.hadoop.fs.Path(s"$dir/__sketch_old")))
      assert(Dedup.readBandSketch(spark, dir)
        .exists(java.util.Arrays.equals(_, maintained)),
        "an interrupted sketch write must recover the _old sidecar")
      assert(fs.exists(new org.apache.hadoop.fs.Path(s"$dir/_sketch")))
      // no persisted sketch -> append maintenance is a no-op (plain dirs
      // keep working); readBandSketch reports absence
      val dir2 = java.nio.file.Files.createTempDirectory("mh_idx_sk2").toString
      try {
        Dedup.writeMinhashIndex(corpus, "doc_id", "text", dir2)
        Dedup.appendMinhashIndex(batch1, "doc_id", "text", dir2)
        assert(Dedup.readBandSketch(spark, dir2).isEmpty)
      } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir2))
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("buildBandSketch saturation is measurable: undersized sketch reads > threshold") {
    val base = Tables.table(spark, sfDir, "documents")
    val corpus = base.filter($"doc_id" < 200)
    val dir = java.nio.file.Files.createTempDirectory("mh_idx_sat").toString
    try {
      val idx = Dedup.writeMinhashIndex(corpus, "doc_id", "text", dir)
      // sized for the index's band-row count: healthy density well under 0.5
      val sized = Dedup.buildBandSketch(idx, expectedItems = idx.bands.count())
      assert(Dedup.sketchBitDensity(sized) < Dedup.saturationDensity,
        f"correctly sized sketch must not read saturated " +
          f"(${Dedup.sketchBitDensity(sized)}%.3f)")
      // two orders of magnitude undersized: past capacity, density over the
      // warn threshold — the detectable signal ADVICE r10 asked for
      val starved = Dedup.buildBandSketch(idx, expectedItems = 16, fpp = 0.01)
      assert(Dedup.sketchBitDensity(starved) > Dedup.saturationDensity,
        f"undersized sketch must read saturated " +
          f"(${Dedup.sketchBitDensity(starved)}%.3f)")
      // sizing past Spark's runtime bloom-filter caps must THROW (the
      // aggregate would otherwise silently clamp to a saturated 8 MB
      // sketch while the meta recorded the uncapped geometry)
      val e = intercept[IllegalArgumentException] {
        Dedup.buildBandSketch(idx, expectedItems = 1L << 33)
      }
      assert(e.getMessage.contains("maxNumBits"), e.getMessage)
      intercept[IllegalArgumentException] {
        Dedup.buildDigestSketch(
          idx.sigs.select(col("doc_id").cast("string").as("digest")),
          expectedItems = 1L << 33)
      }
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("repeatedSubstringSpans wide (128-bit keys) matches the 64-bit spans") {
    val docs = Tables.table(spark, sfDir, "documents").limit(300)
    def spans(wide: Boolean) = Dedup
      .repeatedSubstringSpans(docs, "doc_id", "text", minLen = 40, stride = 4,
        wide = wide)
      .collect().map(_.toSeq).toSet
    val narrow = spans(wide = false)
    assert(narrow.nonEmpty, "fixture must produce repeated spans")
    assert(spans(wide = true) == narrow,
      "two-base pair keying must not change spans where 64 bits suffice")
  }

  test("window_hashes seeded base: repeats detected under any odd base, even base rejected") {
    graft.functions.TajoFunctions.register(spark)
    // two docs sharing one 12-char block: under ANY odd base the shared
    // window hashes collide between docs and the distinct ones do not
    val two = Seq((1L, "abcdefghijkl--left"), (2L, "xy abcdefghijkl^^^"))
      .toDF("doc_id", "text")
    def repeats(baseSql: String): Set[Long] = two
      .select($"doc_id", explode(expr(s"window_hashes(text, 12, 1$baseSql)")).as("h"))
      .groupBy("h").agg(countDistinct("doc_id").as("d"))
      .filter($"d" > 1).select("h").collect().map(_.getLong(0)).toSet
    assert(repeats("").size == 1, "default base must find exactly the shared window")
    assert(repeats(", 1099511628211L").size == 1,
      "a per-run odd base must find the same repeat structure")
    assert(repeats(s", ${graft.functions.WindowHashes.SecondBase}L").size == 1)
    intercept[Exception] { repeats(", 1099511628212L") } // even base: not invertible
  }

  test("simhashNearDupsWide: two-level banding finds exactly the brute-force hamming pairs") {
    // fixture corpus + seeded near-dups (word-level perturbations of real
    // docs) so qualifying pairs exist at several hamming distances and the
    // check cannot pass vacuously
    val base = Tables.table(spark, sfDir, "documents").limit(300)
    val corpus = base.select("doc_id", "text").unionByName(
      base.filter(col("doc_id") % 7 === 0).select(
        (col("doc_id") + 100000L).as("doc_id"),
        concat(col("text"), lit(" perturbednoise")).as("text")))
    val got = Dedup.simhashNearDupsWide(corpus, "doc_id", "text", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // Independent brute force over the collected 60-bit signatures —
    // validates the TWO-level pigeonhole claim: hamming <= 3 implies a
    // flip-free band AND, inside its residual, a flip-free sub-slice.
    graft.functions.TajoFunctions.register(spark)
    val sigs = corpus.select(col("doc_id"), expr("simhash60(SPLIT(text, ' '))"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val brute = (for {
      (d1, s1) <- sigs; (d2, s2) <- sigs if d1 < d2
      h = java.lang.Long.bitCount(s1 ^ s2) if h <= 3
    } yield (d1, d2, h.toLong)).toSet
    assert(got == brute)
    assert(brute.nonEmpty, "seeded near-dups must produce qualifying pairs")
    assert(brute.exists(_._3 > 0), "need at least one non-identical near-dup pair")
    // NULL text (NULL signature) and NULL ids are excluded, not collected
    // into a degenerate NULL-key bucket (they also never pair with real
    // docs — the join spelling this replaced dropped them via key
    // semantics, and the oracle's bit_count(NULL) predicate agrees)
    val withNulls = Seq(
      (1L, "alpha beta gamma delta"), (2L, "alpha beta gamma delta"),
      (3L, null.asInstanceOf[String]), (4L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
      .unionByName(Seq(("x", "alpha beta gamma delta")).toDF("sid", "text")
        .select(lit(null).cast("bigint").as("doc_id"), col("text")))
    val nr = Dedup.simhashNearDupsWide(withNulls, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(nr == Set((1L, 2L, 0L)))
  }

  test("lmScore: hand-computed add-one bigram ppm, short-doc NULL, cap semantics") {
    val train = Seq((10L, "a b a b")).toDF("doc_id", "text")
    // train: c1(a)=2, c1(b)=2, V=2; c2(a b)=2, c2(b a)=1
    val corpus = Seq(
      (1L, "a b"),   // ppm(a b) = 1e6*(2+1) DIV (2+2) = 750000
      (2L, "b a z"), // ppm(b a)=1e6*2 DIV 4=500000; ppm(a z)=1e6*1 DIV 4=250000 -> 375000
      (3L, "z q"),   // both unseen: 1e6*1 DIV (0+2) = 500000
      (4L, "solo")   // one token: no bigrams -> NULL
    ).toDF("doc_id", "text")
    val r = TextAnalysis.lmScore(corpus, train, "doc_id", "text")
      .orderBy("doc_id").collect()
      .map(x => (x.getLong(0), x.getLong(1), Option(x.getAs[Any]("lm_ppm"))))
    assert(r.toSeq == Seq(
      (1L, 1L, Some(750000L)), (2L, 2L, Some(375000L)),
      (3L, 1L, Some(500000L)), (4L, 0L, None)))
    // maxVocab caps the model tables by (count desc, word asc); words and
    // bigram heads outside the cap score as unseen, while V (the smoothing
    // denominator) stays the FULL vocabulary size.
    val trainB = Seq((10L, "a b a b b")).toDF("doc_id", "text")
    // trainB: c1(a)=2, c1(b)=3, V=2; top-1 vocab = {b}
    val one = Seq((1L, "a b")).toDF("doc_id", "text")
    val uncapped = TextAnalysis.lmScore(one, trainB, "doc_id", "text")
      .collect()(0).getAs[Long]("lm_ppm")
    assert(uncapped == 750000L)   // c2(a b)=2, c1(a)=2: 1e6*3 DIV 4
    val capped = TextAnalysis.lmScore(one, trainB, "doc_id", "text", maxVocab = 1)
      .collect()(0).getAs[Long]("lm_ppm")
    assert(capped == 500000L)     // head "a" out of vocab: 1e6*1 DIV (0+2)
  }

  test("top n-grams: exact counts, deterministic tie order, short-doc guard") {
    val tiny = Seq(
      (1L, "x y z"),      // bigrams: "x y", "y z"
      (2L, "x y"),        // "x y"
      (3L, "w")           // too short: no bigrams
    ).toDF("doc_id", "text")
    val r = TextAnalysis.topNgrams(tiny, "doc_id", "text", n = 2, k = 10)
      .collect().map(x => (x.getAs[String]("ngram"), x.getAs[Long]("cnt")))
    assert(r.toSeq == Seq(("x y", 2L), ("y z", 1L)))
    // trigrams over doc 1 only
    val tri = TextAnalysis.topNgrams(tiny, "doc_id", "text", n = 3, k = 10)
      .collect().map(x => (x.getAs[String]("ngram"), x.getAs[Long]("cnt")))
    assert(tri.toSeq == Seq(("x y z", 1L)))
  }

  test("topKPerGroup keeps exactly the k best per group, deterministic ties") {
    val rows = Seq(
      ("a", 1L, 10L), ("a", 2L, 30L), ("a", 3L, 30L), ("a", 4L, 5L),
      ("b", 5L, 7L), ("c", 6L, 1L), ("c", 7L, 2L)
    ).toDF("grp", "id", "score")
    val r = Sampling.topKPerGroup(rows, "grp", "score", 2, "id")
      .orderBy("grp", "group_rank")
      .collect().map(x => (x.getString(0), x.getLong(1), x.getInt(3)))
    // ties on score=30 break on the lower id
    assert(r.toSeq == Seq(
      ("a", 2L, 1), ("a", 3L, 2), ("b", 5L, 1), ("c", 7L, 1), ("c", 6L, 2)))
  }

  test("deterministicShuffle is stable under repartitioning") {
    val base = spark.range(0, 1000).toDF("id")
    val head = Sampling.deterministicShuffle(base, "id")
      .limit(20).collect().map(_.getLong(0)).toSeq
    val headRepart = Sampling.deterministicShuffle(base.repartition(13), "id")
      .limit(20).collect().map(_.getLong(0)).toSeq
    assert(head == headRepart)
    // it is a real permutation, not identity order
    assert(head != head.sorted)
  }

  test("repeatedSubstringSpans finds shared spans and merges windows maximally") {
    val shared = "0123456789abcdefghij" // 20 chars, appears in docs 1 and 2
    val corpus = Seq(
      (1L, "XX" + shared + "YYYYYYYY"),
      (2L, "ZZZZ" + shared + "WWWW"),
      (3L, "totally unique text with no repeats at all!!")
    ).toDF("doc_id", "text")
    val spans = Dedup.repeatedSubstringSpans(corpus, "doc_id", "text",
      minLen = 10, stride = 1)
      .orderBy("doc_id", "span_start").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // one maximal span per doc covering exactly the shared phrase
    assert(spans.toSeq == Seq((1L, 2L, 22L), (2L, 4L, 24L)), spans.toSeq.toString)
    // stride > 1 detects phase-aligned repeats (offsets differing by a
    // stride multiple); doc pair below differs by 3 = stride
    val aligned = Seq(
      (1L, "XX" + shared + "PPPPPPPP"),
      (2L, "YYYYY" + shared + "QQQQQ")
    ).toDF("doc_id", "text")
    val strided = Dedup.repeatedSubstringSpans(aligned, "doc_id", "text",
      minLen = 10, stride = 3)
      .filter($"doc_id" === 1L).collect()
    assert(strided.length == 1)
  }

  test("removeSpans cuts exactly the detected spans, leaves clean docs alone") {
    val shared = "0123456789abcdefghij"
    val corpus = Seq(
      (1L, "XX" + shared + "YYYYYYYY"),
      (2L, "ZZZZ" + shared + "WWWW"),
      (3L, "totally unique text with no repeats at all!!")
    ).toDF("doc_id", "text")
    val spans = Dedup.repeatedSubstringSpans(corpus, "doc_id", "text",
      minLen = 10, stride = 1)
    val scrubbed = Dedup.removeSpans(corpus, spans, "doc_id", "text")
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getAs[String]("scrubbed")))
    assert(scrubbed.toSeq == Seq(
      (1L, "XXYYYYYYYY"), (2L, "ZZZZWWWW"),
      (3L, "totally unique text with no repeats at all!!")))
    // span at offset 0 and span reaching the end both cut cleanly
    val edge = Seq((1L, shared + "-TAIL"), (2L, "HEAD-" + shared)).toDF("doc_id", "text")
    val es = Dedup.repeatedSubstringSpans(edge, "doc_id", "text", 20, 1)
    val er = Dedup.removeSpans(edge, es, "doc_id", "text")
      .orderBy("doc_id").collect().map(_.getAs[String]("scrubbed"))
    assert(er.toSeq == Seq("-TAIL", "HEAD-"))
  }

  test("contaminatedSpans finds exactly the benchmark overlap, scrubs it, skips clean docs") {
    val passage = "0123456789abcdefghij" // 20 chars, lives in the benchmark
    val bench = Seq((100L, "EVAL SET HEADER " + passage + " trailer")).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "XX" + passage + "YYYYYYYY"),                      // quotes the passage
      (2L, "clean document with no benchmark overlap at all"),
      (3L, passage + "-immediately then more unrelated text") // overlap at offset 0
    ).toDF("doc_id", "text")
    val spans = Dedup.contaminatedSpans(corpus, bench, "doc_id", "text",
      minLen = 10, stride = 1)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // maximal span per contaminated doc covering exactly the quoted passage
    assert(spans.toSeq == Seq((1L, 2L, 22L), (3L, 0L, 20L)), spans.toSeq.toString)
    val scrubbed = Dedup.removeSpans(corpus,
      Dedup.contaminatedSpans(corpus, bench, "doc_id", "text", 10, 1),
      "doc_id", "text")
      .orderBy("doc_id").collect().map(_.getAs[String]("scrubbed"))
    assert(scrubbed.toSeq == Seq("XXYYYYYYYY",
      "clean document with no benchmark overlap at all",
      "-immediately then more unrelated text"))
  }

  test("contaminatedSpans stride: bench side is ALWAYS stride 1, corpus guarantee is minLen+stride-1") {
    // passage sits at an ODD offset in the benchmark doc — a strided
    // benchmark pass would miss it; the operator's fixed stride-1 bench
    // side must not.
    val passage = "0123456789abcdefghijklmnop" // 26 chars
    val bench = Seq((100L, "ZZZ" + passage)).toDF("doc_id", "text")
    // corpus offset 5 with stride 4: windows at 4 and 8 both fall inside
    // [5, 31) since 26 >= 10 + 4 - 1; detection guaranteed.
    val corpus = Seq((1L, "AAAAA" + passage + "BBBB")).toDF("doc_id", "text")
    val spans = Dedup.contaminatedSpans(corpus, bench, "doc_id", "text",
      minLen = 10, stride = 4).collect()
    assert(spans.length == 1, "long-enough overlap must be found at any alignment")
    // a region shorter than minLen is never flagged
    val shortBench = Seq((100L, "x 012345678 y")).toDF("doc_id", "text")
    val none = Dedup.contaminatedSpans(corpus, shortBench, "doc_id", "text",
      minLen = 10, stride = 1).collect()
    assert(none.isEmpty)
  }

  test("contaminatedSpans wide (128-bit keys) matches the 64-bit spans on the fixture") {
    val docs = Tables.table(spark, sfDir, "documents").limit(300)
    val bench = docs.filter($"doc_id" % 10 === 0)
    val corpus = docs.filter($"doc_id" % 10 =!= 0)
    def spans(wide: Boolean) = Dedup
      .contaminatedSpans(corpus, bench, "doc_id", "text", minLen = 40,
        stride = 4, wide = wide)
      .collect().map(_.toSeq).toSet
    val narrow = spans(wide = false)
    assert(narrow.nonEmpty, "fixture must produce contaminated spans")
    assert(spans(wide = true) == narrow,
      "two-base pair keying must not change spans where 64 bits suffice")
  }

  test("decontaminateExact drops any doc sharing one n-gram with the benchmark") {
    val corpus = Seq(
      (1L, "alpha beta gamma delta"),        // shares "alpha beta gamma" -> dropped
      (2L, "completely different words here"),
      (3L, "the alpha beta gamma tail"),     // contains the benchmark 3-gram -> dropped
      (4L, "beta gamma alpha shuffled")      // same words, no shared 3-gram -> kept
    ).toDF("doc_id", "text")
    val bench = Seq((100L, "alpha beta gamma")).toDF("doc_id", "text")
    val kept = Dedup.decontaminateExact(corpus, bench, "doc_id", "text", 3)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(kept == Seq(2L, 4L))
  }

  test("decontaminateExact: short docs (< n words) never match via the '_' sentinel") {
    // ngram_hash_set emits the sentinel hash (95) for docs with fewer than
    // n words; without filtering it, the two unrelated short docs below
    // would share a phantom 'gram' and the corpus one would be dropped
    val corpus = Seq(
      (1L, "tiny doc"),                      // < 3 words, shares nothing real
      (2L, "alpha beta gamma delta")         // shares the benchmark 3-gram -> dropped
    ).toDF("doc_id", "text")
    val bench = Seq(
      (100L, "short"),                       // < 3 words — must not poison anything
      (101L, "alpha beta gamma")
    ).toDF("doc_id", "text")
    val kept = Dedup.decontaminateExact(corpus, bench, "doc_id", "text", 3)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(kept == Seq(1L))
  }

  test("qualityGate: exact keeps >= half per group; approx sketch agrees closely") {
    val rows = spark.range(0, 2000).toDF("id")
      .withColumn("grp", (col("id") % 4).cast("string"))
      .withColumn("score", (col("id") * 7919 % 10000).cast("bigint"))
    val exact = TextAnalysis.qualityGate(rows, "grp", "score", 0.5, exact = true)
    val approx = TextAnalysis.qualityGate(rows, "grp", "score", 0.5, exact = false)
    val (ne, na) = (exact.count(), approx.count())
    // median gate keeps at least half of every group (>= threshold)
    assert(ne >= 1000 && ne <= 1100, s"exact kept $ne")
    // the sketch threshold may differ by a few ranks per group, never more
    assert(math.abs(ne - na) <= 40, s"exact $ne vs approx $na")
    // gated set respects the per-group threshold: worst kept >= best dropped
    val keptMin = exact.groupBy("grp").agg(min("score").as("m"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val dropped = rows.join(exact.select("id"), Seq("id"), "left_anti")
      .groupBy("grp").agg(max("score").as("m"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    dropped.foreach { case (g, worst) => assert(worst < keptMin(g), s"group $g") }
  }

  test("temperatureMix keeps the smallest source whole and downsamples ~sqrt") {
    val rows = spark.range(0, 1200).toDF("id")
      .withColumn("src", when(col("id") % 12 < 9, "huge")
        .when(col("id") % 12 < 11, "mid").otherwise("tiny"))
    val kept = Sampling.temperatureMix(rows, "src", "id")
      .groupBy("src").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(kept("tiny") == 100) // smallest source: rate 1.0, keeps all
    // huge: 900 rows at rate sqrt(100/900)=1/3 -> ~300; mid: 200 at
    // sqrt(1/2) -> ~141. Hash is uniform, allow +-20%.
    assert(kept("huge") > 240 && kept("huge") < 360, kept.toString)
    assert(kept("mid") > 113 && kept("mid") < 170, kept.toString)
    // deterministic: identical kept set under a different layout
    val again = Sampling.temperatureMix(rows.repartition(7), "src", "id")
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    val first = Sampling.temperatureMix(rows, "src", "id")
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(first == again)
  }

  test("packSequences: offsets bounded, monotone within a sequence, layout-stable") {
    val docsTok = spark.range(0, 500).toDF("id")
      .withColumn("tokens", (col("id") * 37 % 900) + 100) // 100..999 tokens
    val packed = Packing.packSequences(docsTok, "id", "tokens",
      budget = 2048L, blockSize = 50L).cache()
    val rows = packed.orderBy("pack_block", "seq_in_block", "id")
      .select("pack_block", "seq_in_block", "id", "offset_in_seq", "tokens")
      .collect()
    rows.foreach { r => assert(r.getLong(3) >= 0 && r.getLong(3) < 2048) }
    // within a sequence, docs appear in id order with strictly growing offsets
    val bySeq = rows.groupBy(r => (r.getLong(0), r.getLong(1)))
    bySeq.values.foreach { seq =>
      val sorted = seq.sortBy(_.getLong(2))
      sorted.sliding(2).foreach {
        case Array(a, b) => assert(a.getLong(3) < b.getLong(3))
        case _ =>
      }
    }
    // assignment is invariant to the input's physical layout
    val again = Packing.packSequences(docsTok.repartition(7), "id", "tokens",
      budget = 2048L, blockSize = 50L)
      .orderBy("pack_block", "seq_in_block", "id")
      .select("pack_block", "seq_in_block", "id", "offset_in_seq", "tokens")
      .collect()
    assert(rows.map(_.toSeq).toSeq == again.map(_.toSeq).toSeq)
    packed.unpersist()
  }

  test("multimodal stub: deterministic decode + frame sampling shape") {
    implicit val s = spark
    val media = Multimodal.asMediaTable(docs, "doc_id", "text")
    val feats = Multimodal.decodeStub(media).collect().sortBy(_.id)
    assert(feats.length == 4)
    assert(feats(0).magic.startsWith("74686520")) // "the " in hex
    assert(feats(0).n_bytes == 43)
    assert(feats(0).features.length == 8)
    val again = Multimodal.decodeStub(media).collect().sortBy(_.id)
    assert(feats.map(_.features.toSeq).toSeq == again.map(_.features.toSeq).toSeq)
    val frames = Multimodal.sampleFrames(media, k = 4)
    assert(frames.count() == 16)
    // resize: fits the box, preserves aspect, never upscales
    val resized = Multimodal.resizePlan(Multimodal.decodeStub(media).toDF(), 224, 224)
      .select("width", "height", "out_w", "out_h").collect()
    resized.foreach { r =>
      val (w, h, ow, oh) = (r.getInt(0), r.getInt(1), r.getInt(2), r.getInt(3))
      assert(ow <= 224 && oh <= 224)
      assert(ow <= w && oh <= h)
      if (w <= 224 && h <= 224) assert(ow == w && oh == h) // no upscale
    }
    // patch grid: every patch fully inside the resized image, count = grid
    val sized = Multimodal.resizePlan(Multimodal.decodeStub(media).toDF(), 224, 224)
    val patches = Multimodal.patchPlan(sized, patch = 16)
      .select("id", "out_w", "out_h", "px", "py").collect()
    assert(patches.nonEmpty)
    patches.foreach { p =>
      assert(p.getInt(3) + 16 <= p.getInt(1), p.toString) // px + P <= out_w
      assert(p.getInt(4) + 16 <= p.getInt(2), p.toString)
    }
    val perImage = patches.groupBy(_.getLong(0))
    perImage.foreach { case (_, ps) =>
      val (ow, oh) = (ps.head.getInt(1), ps.head.getInt(2))
      assert(ps.length == (ow / 16) * (oh / 16))
    }
  }

  test("multimodal real decode: PNG exact, JPEG dims, non-image falls back to stub") {
    implicit val s = spark
    import s.implicits._
    def encode(fmt: String, w: Int, h: Int, rgb: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      val g = img.createGraphics()
      g.setColor(new java.awt.Color(rgb)); g.fillRect(0, 0, w, h); g.dispose()
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, fmt, bos)
      bos.toByteArray
    }
    val media = Seq(
      (1L, encode("png", 37, 21, 0xCAFE17)),           // PNG -> lossless exact
      (2L, encode("jpg", 64, 48, 0x808080)),           // JPEG -> real dims, lossy pixels
      (3L, "not an image at all".getBytes("UTF-8"))    // fallback -> stub
    ).toDF("id", "payload")
    val out = Multimodal.decode(media).collect().sortBy(_.id)
    // PNG: exact dimensions, PNG signature, channel means == fill color
    assert(out(0).width == 37 && out(0).height == 21)
    assert(out(0).magic == "89504e470d0a1a0a")
    assert(out(0).features.take(3).toSeq == Seq(0xCA.toFloat, 0xFE.toFloat, 0x17.toFloat))
    // uniform image: all four quadrant lumas equal the global luma
    assert(out(0).features.drop(4).distinct.length == 1)
    // JPEG: true dimensions survive the lossy codec; gray stays near gray
    assert(out(1).width == 64 && out(1).height == 48)
    assert(out(1).magic.startsWith("ffd8ff"))
    assert(math.abs(out(1).features(3) - 128f) < 4f)
    // non-image: byte-identical to the deterministic stub row
    val stub = Multimodal.decodeStub(media.filter($"id" === 3L)).collect().head
    assert(out(2).width == stub.width && out(2).height == stub.height &&
      out(2).magic == stub.magic && out(2).n_bytes == stub.n_bytes &&
      out(2).features.toSeq == stub.features.toSeq)
    // synthetic PNG fixture round-trips its closed-form dimensions
    val fix = Multimodal.decode(
      Multimodal.syntheticPngTable(Seq(5L, 123L).toDF("doc_id"), "doc_id"))
      .collect().sortBy(_.id)
    assert(fix(0).width == (100 + 5 * 7 % 500) && fix(0).height == (80 + 5 * 13 % 400))
    assert(fix(1).width == (100 + 123 * 7 % 500) && fix(1).height == (80 + 123 * 13 % 400))
  }
}
