package graft

import graft.dedup.Clusters
import graft.text.Curation
import org.apache.spark.sql.functions._

/** Curation-completion operators: connected-components cluster
  * resolution, sequence packing, PII redaction, deterministic shuffle. */
class CurationSpec extends SparkSpecBase {

  private def pairs(rows: Seq[(Long, Long)]) = {
    val s = spark
    import s.implicits._
    rows.toDF("id_1", "id_2")
  }

  private def nodes(ids: Seq[Long]) = {
    val s = spark
    import s.implicits._
    ids.toDF("id")
  }

  test("connectedComponents collapses chains and leaves isolates alone") {
    // chain 1-2-3-4 (1≁4 directly), pair 7-8 (reversed), isolate 9
    val out = Clusters.connectedComponents(
        pairs(Seq((1L, 2L), (2L, 3L), (3L, 4L), (8L, 7L))),
        "id_1", "id_2", nodes(Seq(1L, 2L, 3L, 4L, 7L, 8L, 9L)), "id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      7L -> 7L, 8L -> 7L, 9L -> 9L))
  }

  test("connectedComponents converges on a long chain (pointer jumping)") {
    // a 64-node chain has diameter 63; pointer jumping must close it
    // well inside the default 16 rounds
    val es = (0L until 63L).map(i => (i, i + 1))
    val out = Clusters.connectedComponents(pairs(es), "id_1", "id_2",
        nodes(0L to 63L), "id")
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(out.length == 64 && out.forall(_._2 == 0L))
  }

  test("connectedComponents throws rather than return unconverged labels") {
    // a 16-node chain cannot finish in 1 round even with pointer jumping
    val es = (0L until 15L).map(i => (i, i + 1))
    val e = intercept[IllegalStateException] {
      Clusters.connectedComponents(pairs(es), "id_1", "id_2",
        nodes(0L to 15L), "id", maxRounds = 1)
    }
    assert(e.getMessage.contains("did not converge"))
  }

  test("CC frontier broadcast is capped by estimated bytes, not rows") {
    import org.apache.spark.sql.types._
    def labels(t: DataType) = StructType(Seq(
      StructField("__id", t), StructField("__lbl", t)))
    assert(Clusters.frontierBroadcastRows(labels(LongType)) == 1000000L)
    // string ids estimate 20 bytes each: 40 bytes a label row
    assert(Clusters.frontierBroadcastRows(labels(StringType)) == 400000L)
  }

  test("nearDupClusters maxBucket bounds a degenerate identical corpus") {
    val s = spark
    import s.implicits._
    // 40 byte-identical docs: every band has one 40-doc bucket → 780
    // pairs per band uncapped. With maxBucket=8 the degenerate buckets
    // drop, no pairs form, and every doc stays its own cluster — the
    // documented trade (cap recall for bounded candidates; run exact
    // dedup first so identical families never reach LSH at all).
    val docs = (1L to 40L).map(i => (i, "same text body for every doc"))
      .toDF("doc_id", "text")
    val out = graft.dedup.Clusters.nearDupClusters(docs, "doc_id", "text",
        0.5, maxBucket = Some(8))
      .collect()
    assert(out.length == 40 && out.forall(r => r.getLong(0) == r.getLong(1)))
  }

  test("packSequences output is invariant to the partition layout") {
    val s = spark
    import s.implicits._
    val df = (1L to 200L).map(i => (i % 5, i, 20L + i % 60))
      .toDF("shard", "doc_id", "n_tokens")
    def run(parts: Int) = {
      val prev = s.conf.get("spark.sql.shuffle.partitions")
      s.conf.set("spark.sql.shuffle.partitions", parts.toString)
      try Curation.packSequences(df, "shard", "doc_id", "n_tokens", 256L)
        .orderBy("shard", "doc_id").collect().toSeq
      finally s.conf.set("spark.sql.shuffle.partitions", prev)
    }
    assert(run(2) == run(8))
  }

  test("packSequences: greedy fill, oversize doc alone, shard reset") {
    val s = spark
    import s.implicits._
    val df = Seq(
      (0L, 1L, 100L), (0L, 2L, 200L), (0L, 3L, 50L), (0L, 4L, 300L),
      (1L, 5L, 400L), (1L, 6L, 10L))
      .toDF("shard", "doc_id", "n_tokens")
    val out = Curation.packSequences(df, "shard", "doc_id", "n_tokens", 256L)
      .orderBy("shard", "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3), r.getLong(4)))
    assert(out.toSeq == Seq(
      (0L, 1L, 0L, 0L),   // seq 0: doc1 at 0
      (0L, 2L, 1L, 0L),   // 100+200 > 256 → seq 1
      (0L, 3L, 1L, 200L), // fits after doc2
      (0L, 4L, 2L, 0L),   // 300 > 256: alone in seq 2 (overflow by fiat)
      (1L, 5L, 0L, 0L),   // new shard resets seq numbering
      (1L, 6L, 1L, 0L)))  // 400 already over budget → next starts seq 1
  }

  test("piiRedact scrubs all three classes; piiCounts counts them") {
    val s = spark
    import s.implicits._
    val df = Seq("write a.b@x.co or c@d.org ip 10.1.2.3 tel +1 555 0123 end")
      .toDF("t")
    val (ne, nip, nph) = Curation.piiCounts(col("t"))
    val r = df.select(ne, nip, nph, Curation.piiRedact(col("t"))).head()
    assert(r.getInt(0) == 2 && r.getInt(1) == 1 && r.getInt(2) == 1)
    assert(r.getString(3) ==
      "write <EMAIL> or <EMAIL> ip <IP> tel <PHONE> end")
  }

  test("htmlToText: code bodies drop, tags space, entities decode once") {
    val s = spark
    import s.implicits._
    val df = Seq(
      "<html><head><SCRIPT a=\"b\">if (1 < 2) { x(); }\nmore</script>" +
        "<style>.a{}</style></head><body><!-- hidden\ntext -->" +
        "<h1>Title</h1><p>one</p><p>two &amp;lt; three&nbsp;&#39;s " +
        "&quot;q&quot; &lt;b&gt;</p></body></html>",
      "plain   text\twith\n\nruns", "").toDF("h")
    val r = df.select(Curation.htmlToText(col("h"))).as[String]
      .collect().toSeq
    // &amp;lt; decodes to the LITERAL "&lt;" (no double decode); the
    // real &lt;b&gt; decodes to <b> but only AFTER tag-strip, so it
    // survives as text
    assert(r === Seq(
      "Title one two &lt; three 's \"q\" <b>",
      "plain text with runs", ""))
  }

  test("collocations: PMI argument ranks glued pairs above frequent ones") {
    val s = spark
    import s.implicits._
    // "tick tock" always adjacent (3×); "the the" frequent but from a
    // high-count unigram; "rare pair" below minCount
    val docs = Seq(
      (1L, "tick tock the the the the rare pair"),
      (2L, "tick tock the the the the"),
      (3L, "tick tock the the the the")).toDF("doc_id", "text")
    val r = graft.text.CorpusOps
      .collocations(docs, "doc_id", "text", k = 3, minCount = 3L)
      .as[(String, String, Long, Long, Long, Long)].collect().toSeq
    // N = 20 tokens; scores: tick→tock 3·20·1e6/(3·3), tock→the
    // 3·20·1e6/(3·12), the→the 9·20·1e6/(12·12); "rare pair" (count 1)
    // is filtered by minCount
    assert(r === Seq(
      ("tick", "tock", 3L, 3L, 3L, 6666666L),
      ("tock", "the", 3L, 3L, 12L, 1666666L),
      ("the", "the", 9L, 12L, 12L, 1250000L)))
  }

  test("negativeSample: k different-label rows, deterministic, seed-dep") {
    val s = spark
    import s.implicits._
    val pool = (0L until 40L).map(i => (i, (i % 4).toInt)).toDF("id", "lbl")
    val anchors = pool.filter(col("id") < 3)
    def run(seed: String) =
      Curation.negativeSample(pool, "id", "lbl", anchors, k = 4, seed)
        .orderBy("anchor_id", "neg_rank")
        .as[(Long, Long, Long)].collect().toSeq
    val r = run("s1")
    assert(r.size === 12 && r.map(_._1).distinct === Seq(0L, 1L, 2L))
    // never a same-label negative; ranks dense 1..4
    val lbl = pool.as[(Long, Int)].collect().toMap
    assert(r.forall { case (a, n, _) => lbl(a) != lbl(n) })
    assert(r.groupBy(_._1).values.forall(_.map(_._3).sorted == Seq(1L, 2L, 3L, 4L)))
    assert(run("s1") === r) // reproducible
    assert(run("s2") !== r) // seed draws a different set
  }

  test("trainOrderShuffle is a deterministic permutation; seeds decorrelate") {
    val docs = spark.read.parquet(sf() + "/documents.parquet")
      .select("doc_id")
    val a = Curation.trainOrderShuffle(docs, "doc_id", "s1", 4)
    val b = Curation.trainOrderShuffle(docs, "doc_id", "s1", 4)
    // per-shard positions are dense 0..n-1 (a permutation, no gaps/dups)
    val shardOk = a.groupBy("shard")
      .agg(count(lit(1)).as("n"), max(col("pos")).as("mx"),
        countDistinct(col("pos")).as("nd"))
      .filter(col("mx") =!= col("n") - 1 || col("nd") =!= col("n"))
      .count()
    assert(shardOk == 0)
    // same seed reproduces exactly
    assert(a.except(b).count() == 0 && b.except(a).count() == 0)
    // a different seed moves most rows
    val c = Curation.trainOrderShuffle(docs, "doc_id", "s2", 4)
    val same = a.join(c, Seq("doc_id"))
      .filter(a("shard") === c("shard") && a("pos") === c("pos")).count()
    assert(same < docs.count() / 10)
  }

  test("spanDedup drops cross-doc spans only; rebuild preserves order") {
    val s = spark
    import s.implicits._
    // span width 2: "a b"/"c d" occur in docs 1 AND 2 (dropped);
    // doc 3 repeats "x y" internally (df=1 — kept, repetition is not
    // cross-doc duplication); doc 4 shares nothing; doc 5 is empty
    val docs = Seq(
      (1L, "a b c d unique1 end1"),
      (2L, "a b c d unique2 end2"),
      (3L, "x y x y tail3"),
      (4L, "solo text here"),
      (5L, "")).toDF("doc_id", "text")
    val out = Curation.spanDedup(docs, "doc_id", "text", 2, 2L)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out(1L) == (("unique1 end1", 3L, 2L)))
    assert(out(2L) == (("unique2 end2", 3L, 2L)))
    assert(out(3L) == (("x y x y tail3", 3L, 0L)))
    assert(out(4L) == (("solo text here", 2L, 0L)))
    assert(out(5L) == (("", 0L, 0L)))
  }

  test("spanDedup shuffle-join path matches the broadcast path") {
    val docs = spark.read.parquet(sf() + "/documents.parquet")
    val b = Curation.spanDedup(docs, "doc_id", "text", 4, 2L)
    val sh = Curation.spanDedup(docs, "doc_id", "text", 4, 2L,
      broadcastFrequent = false)
    assert(b.except(sh).count() == 0 && sh.except(b).count() == 0)
  }

  test("chunkDocuments: overlap windows, short tails, sub-chunk docs") {
    val s = spark
    import s.implicits._
    // chunk=4, overlap=2, stride=2
    val docs = Seq(
      (1L, "a b c d e f g"), // 7 tokens → ceil(5/2)=3 chunks
      (2L, "a b"),           // 2 tokens (< chunk) → 1 chunk
      (3L, "")               // empty → no chunks
    ).toDF("doc_id", "text")
    val out = Curation.chunkDocuments(docs, "doc_id", "text", 4, 2)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3),
        r.getString(4))).toSet
    assert(out == Set(
      (1L, 0, 0, 4, "a b c d"),
      (1L, 1, 2, 4, "c d e f"),
      (1L, 2, 4, 3, "e f g"),
      (2L, 0, 0, 2, "a b")))
  }

  test("exactKPerStratum: exactly k per stratum, seed-reproducible") {
    val docs = spark.read.parquet(sf() + "/documents.parquet")
      .select("doc_id", "lang")
    val a = Curation.exactKPerStratum(docs, "lang", "doc_id", 3, "s1")
    val perStratum = a.groupBy("lang").count().collect()
    assert(perStratum.nonEmpty && perStratum.forall(_.getLong(1) == 3L))
    val b = Curation.exactKPerStratum(docs, "lang", "doc_id", 3, "s1")
    assert(a.except(b).count() == 0 && b.except(a).count() == 0)
    // a different seed draws a mostly different sample
    val c = Curation.exactKPerStratum(docs, "lang", "doc_id", 3, "s2")
    assert(a.select("doc_id").intersect(c.select("doc_id")).count() <
      a.count())
  }

  test("topKVocab breaks count ties by token text") {
    val s = spark
    import s.implicits._
    // b and c tie at 2 occurrences; K=2 must take 'a' (3) then 'b'
    val docs = Seq("a a a b b", "c c").toDF("text")
    val v = graft.text.CorpusOps.topKVocab(docs, "text", 2)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(v.toSeq == Seq(("a", 3L, 1L), ("b", 2L, 2L)))
  }

  test("bigramLmScore: add-one smoothing, unseen bigram and prefix") {
    val s = spark
    import s.implicits._
    // train: "a b a b" → bigrams ab, ba, ab → c2(a,b)=2, c2(b,a)=1,
    // c1(a)=2, c1(b)=1, V=2
    val train = Seq((1L, "a b a b")).toDF("doc_id", "text")
    val score = Seq(
      (10L, "a b"),   // seen: (2+1)/(2+2) = 0.75
      (11L, "b b"),   // unseen bigram, seen prefix: (0+1)/(1+2) = 1/3
      (12L, "z a"),   // unseen prefix: (0+1)/(0+2) = 0.5
      (13L, "a")      // <2 tokens → 0 bigrams, score 0.0
    ).toDF("doc_id", "text")
    val out = graft.text.CorpusOps
      .bigramLmScore(train, score, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2))))
      .toMap
    assert(out(10L) == ((1L, 0.75)))
    assert(out(11L)._1 == 1L && math.abs(out(11L)._2 - 1.0 / 3.0) < 1e-9)
    assert(out(12L) == ((1L, 0.5)))
    assert(out(13L) == ((0L, 0.0)))
  }

  test("keepBestPerCluster: max quality wins, quality ties take min id") {
    val s = spark
    import s.implicits._
    // cluster 1: clear max at id 3; cluster 5: tie 0.7 between 5 and 6
    // (min id 5 must win); cluster 9: singleton keeps itself
    val members = Seq(
      (1L, 1L, 0.2), (2L, 1L, 0.9), (3L, 1L, 0.95),
      (5L, 5L, 0.7), (6L, 5L, 0.7),
      (9L, 9L, 0.1)).toDF("id", "cluster_id", "q")
    val out = graft.dedup.Clusters
      .keepBestPerCluster(members, "id", "cluster_id", "q")
      .select("id", "keeper_id", "is_keeper", "n_members")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getBoolean(2), r.getLong(3)))).toMap
    assert(out == Map(
      1L -> ((3L, false, 3L)), 2L -> ((3L, false, 3L)),
      3L -> ((3L, true, 3L)),
      5L -> ((5L, true, 2L)), 6L -> ((5L, false, 2L)),
      9L -> ((9L, true, 1L))))
    // partition-independence of the arg-max: the injective (q, -id) key
    // makes the merge order irrelevant
    val out7 = graft.dedup.Clusters
      .keepBestPerCluster(members.repartition(7), "id", "cluster_id", "q")
      .select("id", "keeper_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out7 == out.map { case (k, v) => k -> v._1 })
  }

  test("bm25TopK: rare term outranks common term at equal tf") {
    val s = spark
    import s.implicits._
    // 'rare' in 1 of 4 docs, 'common' in 3 — doc 1 (rare) must outrank
    // doc 2 (common) despite identical tf and length
    val docs = Seq(
      (1L, "rare pad pad pad"), (2L, "common pad pad pad"),
      (3L, "common pad pad"), (4L, "common x y z w")).toDF("id", "text")
    val out = graft.text.CorpusOps
      .bm25TopK(docs, "id", "text", Seq("rare", "common"), 10)
      .select("id", "score").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(out.size == 4) // every doc matches a term; k caps, not pads
    assert(out(1L) > out(2L))
    // docs 2 and 3 differ only in length — the shorter scores higher
    // (length normalization)
    assert(out(3L) > out(2L))
  }

  test("rrfFuse: full-outer sentinel-0 semantics, integer score, tie-break, top-k cut") {
    val s = spark
    import s.implicits._
    // group g: doc 10 in both lists, doc 11 vector-only, doc 12
    // lexical-only; group h: single doc to prove group isolation
    val vec = Seq(("g", 10L, 1L), ("g", 11L, 2L), ("h", 30L, 1L))
      .toDF("grp", "id", "r")
    val txt = Seq(("g", 10L, 2L), ("g", 12L, 1L))
      .toDF("grp", "id", "r")
    val out = graft.text.CorpusOps
      .rrfFuse(vec, txt, "grp", "id", "r", k = 10)
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    val S = 1000000000000L
    def c(r: Long) = if (r > 0) S / (60 + r) else 0L
    // both-sides doc sums both contributions; single-side docs carry a
    // 0 sentinel for the missing rank
    assert(out(("g", 10L)) == ((1L, 2L, c(1) + c(2), 1L)))
    // c(1) > c(2): the lexical-only doc at rank 1 outranks the
    // vector-only doc at rank 2
    assert(out(("g", 12L)) == ((0L, 1L, c(1), 2L)))
    assert(out(("g", 11L)) == ((2L, 0L, c(2), 3L)))
    assert(out(("h", 30L)) == ((1L, 0L, c(1), 1L)))
    // 11 and 12 tie on rrf (c(2) vs c(1)? no — c(2) < c(1)); build an
    // exact tie instead: two vector-only docs at the same rank cannot
    // exist, so tie via symmetric single-side ranks
    val tieA = Seq(("g", 1L, 5L)).toDF("grp", "id", "r")
    val tieB = Seq(("g", 2L, 5L)).toDF("grp", "id", "r")
    val tied = graft.text.CorpusOps
      .rrfFuse(tieA, tieB, "grp", "id", "r", k = 10)
      .collect().map(r => r.getLong(1) -> r.getLong(5)).toMap
    // equal rrf -> id ascending breaks the tie deterministically
    assert(tied == Map(1L -> 1L, 2L -> 2L))
    // top-k cut: k=1 keeps only the best fused doc per group
    val cut = graft.text.CorpusOps
      .rrfFuse(vec, txt, "grp", "id", "r", k = 1)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(cut == Set(("g", 10L), ("h", 30L)))
  }

  test("funnel: strict-after chaining, suffix nulls, tie at entry instant") {
    val s = spark
    import s.implicits._
    // user 1: full conversion; user 2: click BEFORE the view (doesn't
    // count) and none after -> depth 1; user 3: click at the SAME
    // instant as the view (strict > rejects it) but a later click
    // converts, no purchase -> depth 2; user 4: never views -> absent.
    val ev = Seq(
      (1L, "view", 10L), (1L, "click", 20L), (1L, "purchase", 30L),
      (2L, "click", 5L), (2L, "view", 10L),
      (3L, "view", 10L), (3L, "click", 10L), (3L, "click", 40L),
      (4L, "click", 10L), (4L, "purchase", 20L))
      .toDF("user_id", "event_type", "tsn")
      .withColumn("ts", timestamp_seconds(col("tsn")))
    val out = graft.ts.Funnel.funnel(ev, "user_id", "event_type", "ts",
        Seq("view", "click", "purchase"))
      .select(col("user_id"), unix_timestamp(col("step_ts_1")),
        unix_timestamp(col("step_ts_2")), unix_timestamp(col("step_ts_3")),
        col("max_step"))
      .collect().map(r => r.getLong(0) ->
        ((Option(r.get(1)), Option(r.get(2)), Option(r.get(3)),
          r.getLong(4)))).toMap
    assert(out.keySet == Set(1L, 2L, 3L))
    assert(out(1L) == ((Some(10L), Some(20L), Some(30L), 3L)))
    assert(out(2L) == ((Some(10L), None, None, 1L)))
    assert(out(3L) == ((Some(10L), Some(40L), None, 2L)))
    // min entry times are tie-free: any partitioning gives the same map
    val rep = graft.ts.Funnel.funnel(ev.repartition(7), "user_id",
        "event_type", "ts", Seq("view", "click", "purchase"))
      .select(col("user_id"), col("max_step")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rep == out.map { case (k, v) => k -> v._4 })
  }

  test("sourceDrift: proportional source has zero drift, zeros materialize") {
    val s = spark
    import s.implicits._
    // global vocab (K=2): a (6 instances), b (3). src1 holds 2/3 of
    // both (perfectly proportional -> drift 0); src2 holds the rest of
    // a and b... instead make src2 all-a (no b): its missing b row must
    // materialize. src3 has only the non-vocab token z -> r_vocab 0.
    val docs = Seq(
      ("s1", "a a a a b b"), ("s2", "a a b"), ("s3", "z z z"))
      .toDF("source", "text")
    val out = graft.text.CorpusOps.sourceDrift(docs, "source", "text", 2)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3),
          Option(r.get(4)).map(_.asInstanceOf[Long])))).toMap
    // N = 6 + 3 = 9; s1: R=6, o_a=4, o_b=2 -> |4*9-6*6| + |2*9-6*3| = 0
    assert(out("s1") == ((9L, 6L, 0L, Some(0L))))
    // s2: R=3, o_a=2, o_b=1 -> |2*9-3*6| + |1*9-3*3| = 0 too
    // (2:1 is also the global mix) — so rebuild with a skewed source
    assert(out("s2") == ((9L, 3L, 0L, Some(0L))))
    // s3: R=0 -> both zero rows materialize, drift_num 0, TV undefined
    assert(out("s3") == ((9L, 0L, 0L, None)))
    val skewed = Seq(("s1", "a a b b"), ("s2", "a a"))
      .toDF("source", "text")
    val o2 = graft.text.CorpusOps.sourceDrift(skewed, "source", "text", 2)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3),
          Option(r.get(4)).map(_.asInstanceOf[Long])))).toMap
    // N=6 (a:4, b:2). s1: R=4, |2*6-4*4|+|2*6-4*2| = 4+4 = 8;
    // TV = 8/(2*6*4) = 1/6 -> 166666 millionths
    assert(o2("s1") == ((6L, 4L, 8L, Some(166666L))))
    // s2: R=2, |2*6-2*4|+|0*6-2*2| = 4+4 = 8; TV = 8/24 = 1/3
    assert(o2("s2") == ((6L, 2L, 8L, Some(333333L))))
  }

  test("BPE merge learning equals the brute-force reference trainer") {
    val s = spark
    import s.implicits._
    // the classic Sennrich corpus shape: shared suffixes drive merges
    val freqs = Seq("low" -> 5, "lower" -> 2, "newest" -> 6, "widest" -> 3)
    val text = freqs.flatMap { case (w, f) => Seq.fill(f)(w) }.mkString(" ")
    val docs = Seq((1L, text)).toDF("doc_id", "text")

    def refMerge(t: Vector[String], a: String, b: String): Vector[String] = {
      val res = Vector.newBuilder[String]; var i = 0
      while (i < t.length) {
        if (i + 1 < t.length && t(i) == a && t(i + 1) == b) {
          res += (a + b); i += 2
        } else { res += t(i); i += 1 }
      }
      res.result()
    }
    def refBpe(k: Int): Seq[(Long, String, String, Long)] = {
      var st = freqs.map { case (w, f) =>
        (w.map(_.toString).toVector, f.toLong) }
      val out = Seq.newBuilder[(Long, String, String, Long)]
      var r = 1
      var done = false
      while (r <= k && !done) {
        val pc = st.flatMap { case (t, f) =>
          t.indices.dropRight(1).map(i => (t(i), t(i + 1)) -> f) }
          .groupMapReduce(_._1)(_._2)(_ + _)
        if (pc.isEmpty) done = true
        else {
          val ((a, b), c) = pc.toSeq.minBy { case ((a, b), c) => (-c, a, b) }
          out += ((r.toLong, a, b, c))
          st = st.map { case (t, f) => (refMerge(t, a, b), f) }
          r += 1
        }
      }
      out.result()
    }

    val got = graft.text.BpeTrain.learnMerges(docs, "text", 8)
      .select("rank", "left", "right", "merged", "pair_count")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4)))
    val exp = refBpe(8)
    assert(got.map(g => (g._1, g._2, g._3, g._5)).toSeq == exp)
    got.foreach(g => assert(g._4 == g._2 + g._3))
    // first merges on this corpus are famously e+s, es+t (newest+widest)
    assert((got(0)._2, got(0)._3, got(0)._5) == (("e", "s", 9L)))
    assert((got(1)._2, got(1)._3, got(1)._5) == (("es", "t", 9L)))
    // partitioning-invariant: the argmax key is injective
    val got7 = graft.text.BpeTrain.learnMerges(docs.repartition(7), "text", 8)
      .select("rank", "left", "right", "pair_count")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getLong(3))).toSeq
    assert(got7 == exp)
    // overlap rule: "a a a" under (a,a) merges leftmost-only
    val tri = Seq((1L, "aaa aaa")).toDF("doc_id", "text")
    val m = graft.text.BpeTrain.learnMerges(tri, "text", 2)
      .select("rank", "left", "right", "pair_count").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
    // round 1: (a,a) count 4 (two per word, leftmost pairs); the merge
    // leaves [aa, a]; round 2: (aa, a) count 2
    assert(m(0) == ((1L, "a", "a", 4L)))
    assert(m(1) == ((2L, "aa", "a", 2L)))
  }

  test("BPE batched learning is bit-equal to sequential at any batchCap") {
    val s = spark
    import s.implicits._
    // general brute-force sequential trainer (one merge per round)
    def refMerge(t: Vector[String], a: String, b: String): Vector[String] = {
      val res = Vector.newBuilder[String]; var i = 0
      while (i < t.length) {
        if (i + 1 < t.length && t(i) == a && t(i + 1) == b) {
          res += (a + b); i += 2
        } else { res += t(i); i += 1 }
      }
      res.result()
    }
    def refBpe(freqs: Seq[(String, Long)], k: Int): Seq[(Long, String, String, Long)] = {
      var st = freqs.map { case (w, f) => (w.map(_.toString).toVector, f) }
      val out = Seq.newBuilder[(Long, String, String, Long)]
      var r = 1; var done = false
      while (r <= k && !done) {
        val pc = st.flatMap { case (t, f) =>
          t.indices.dropRight(1).map(i => (t(i), t(i + 1)) -> f) }
          .groupMapReduce(_._1)(_._2)(_ + _)
        if (pc.isEmpty) done = true
        else {
          val ((a, b), c) = pc.toSeq.minBy { case ((x, y), n) => (-n, x, y) }
          out += ((r.toLong, a, b, c)); st = st.map { case (t, f) => (refMerge(t, a, b), f) }
          r += 1
        }
      }
      out.result()
    }
    // random tie-HEAVY corpora over a 2-letter alphabet: equal counts
    // everywhere, so the c* trim (not just disjointness) carries the
    // exactness proof; include the hand-built boundary-tie corpus
    val rnd = new scala.util.Random(20260815)
    val corpora = Seq(Seq("xab" -> 10L, "cd" -> 10L)) ++ (1 to 8).map { _ =>
      Vector.fill(6)((1 to (1 + rnd.nextInt(5)))
        .map(_ => if (rnd.nextBoolean()) "a" else "b").mkString)
        .groupBy(identity).toSeq.map { case (w, g) => w -> g.size.toLong }
    }
    for (freqs <- corpora) {
      val text = freqs.flatMap { case (w, f) =>
        Seq.fill(f.toInt)(w) }.mkString(" ")
      val docs = Seq((1L, text)).toDF("doc_id", "text")
      val exp = refBpe(freqs, 6)
      for (cap <- Seq(1, 3, 64)) {
        val got = graft.text.BpeTrain.learnMerges(docs, "text", 6, batchCap = cap)
          .select("rank", "left", "right", "pair_count")
          .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
            r.getLong(3))).toSeq
        assert(got == exp, s"cap=$cap corpus=$freqs")
      }
    }
  }

  test("hashedLinearScore: feature counts, empty and one-token docs") {
    val s = spark
    import s.implicits._
    val docs = Seq((1L, "a b c"), (2L, "a"), (3L, ""))
      .toDF("id", "text")
    val out = graft.text.CorpusOps
      .hashedLinearScore(docs, "id", "text", 64)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getBoolean(3)))).toMap
    // 3 tokens -> 3 unigrams + 2 bigrams; 1 token -> no bigram;
    // empty doc -> zero features, score 0, keep (0 >= 0)
    assert(out(1L)._1 == 5L && out(2L)._1 == 1L)
    assert(out(3L) == ((0L, 0L, true)))
    // the score is a pure function of content: same text, same score
    val again = graft.text.CorpusOps
      .hashedLinearScore(docs.repartition(5), "id", "text", 64)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(again == out.map { case (k, v) => k -> v._2 })
  }

  test("urlNormalize: ports, fragments, tracking params, passthrough") {
    import graft.text.Curation
    val s = spark; import s.implicits._
    val cases = Seq(
      // default ports stripped only for the matching scheme
      "HTTP://Host.Com:80/a" -> "http://host.com/a",
      "https://Host.Com:80/a" -> "https://host.com:80/a",
      "https://HOST.com:443/a?x=1" -> "https://host.com/a?x=1",
      // lone tracking param leaves no dangling separator
      "http://h.com/p?utm_source=x" -> "http://h.com/p",
      "http://h.com/p?utm_a=1&utm_b=2" -> "http://h.com/p",
      "http://h.com/p?a=1&utm_x=2&b=3#f" -> "http://h.com/p?a=1&b=3",
      // non-http(s) and schemeless pass through trimmed
      "  ftp://h.com/x?utm_a=1  " -> "ftp://h.com/x?utm_a=1",
      "not a url" -> "not a url"
    )
    val got = cases.map(_._1).toDF("u")
      .select(Curation.urlNormalize(col("u"))).collect().map(_.getString(0))
    assert(got.toSeq == cases.map(_._2))
  }

  test("registeredDomain: two labels, multi-suffix, portless, dotless") {
    import graft.text.Curation
    val s = spark; import s.implicits._
    val cases = Seq(
      "https://www.bbc.co.uk/news" -> "bbc.co.uk",
      "http://a.b.example.com:8080/" -> "example.com",
      "http://example.com" -> "example.com",
      "http://localhost/x" -> ""
    )
    val got = cases.map(_._1).toDF("u")
      .select(Curation.registeredDomain(col("u"))).collect().map(_.getString(0))
    assert(got.toSeq == cases.map(_._2))
  }

  test("ppsSystematicSample: exact hit total, certainty for heavy rows, determinism") {
    import graft.text.Curation
    val s = spark; import s.implicits._
    val docs = (1L to 200L).map(i =>
      (i, if (i == 7L) 5000L else 10L + (i % 13))).toDF("id", "wt")
    val k = 9
    val out = Curation.ppsSystematicSample(docs, "id", "wt", k, "s1", numShards = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val total = docs.agg(sum(col("wt"))).head().getLong(0)
    val step = total / k
    // hit multiplicities add up to floor(total/step)
    assert(out.map(_._4).sum == total / step)
    // the heavy row (wt > step) is picked with certainty
    assert(out.exists(_._1 == 7L))
    // partition-layout invariance
    val again = Curation.ppsSystematicSample(docs.repartition(13), "id", "wt",
        k, "s1", numShards = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.sortBy(_._1).toSeq == again.sortBy(_._1).toSeq)
    // a different seed draws a different set (decorrelation smoke)
    val other = Curation.ppsSystematicSample(docs, "id", "wt", k, "s2", numShards = 4)
      .collect().map(_.getLong(0)).toSet
    assert(other != out.map(_._1).toSet)
    // zero/negative weights are excluded, weight total below k rejects
    val ex = intercept[IllegalArgumentException] {
      Curation.ppsSystematicSample(Seq((1L, 2L)).toDF("id", "wt"),
        "id", "wt", 5, "s1", 2)
    }
    assert(ex.getMessage.contains("total weight"))
  }

  test("abTest: exact z2 rational, significance threshold, determinism") {
    val s = spark; import s.implicits._
    import java.sql.Timestamp
    def ts(x: Long) = new Timestamp(x * 1000L)
    // 400 users, conversion iff user < 60 (correlates with the hash split
    // only by chance) — build events: every user views, converters purchase
    val rows = (1L to 400L).flatMap { u =>
      Seq((u, ts(u), "view", u)) ++
        (if (u <= 60) Seq((u, ts(u + 1), "purchase", u + 1000)) else Nil)
    }
    val ev = rows.toDF("user_id", "ts", "event_type", "event_id")
    val out = graft.ts.EventStats.abTest(ev, "user_id", "purchase",
      "event_type", "s1").collect()
    assert(out.length == 1)
    val r = out.head
    val (nA, cA, nB, cB) = (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    assert(nA + nB == 400L && cA + cB == 60L)
    // z2 rational restated by hand (DECIMAL(38,0) internally; emitted as
    // DOUBLE for representation stability — exact at these magnitudes)
    val num = (cA * nB - cB * nA) * (cA * nB - cB * nA) * (nA + nB)
    val den = nA * nB * (cA + cB) * (nA + nB - cA - cB)
    assert(r.getDouble(6) == num.toDouble && r.getDouble(7) == den.toDouble)
    assert(r.getInt(8) == (if (1000L * num >= 3841L * den) 1 else 0))
    // assignment is a pure function of (seed, user): rerun agrees
    val again = graft.ts.EventStats.abTest(ev.repartition(7), "user_id",
      "purchase", "event_type", "s1").collect().head
    assert(again.getLong(0) == nA && again.getLong(1) == cA)
    // empty arm / empty input: ONE row with zero counts and null rates,
    // never zero rows (the readout must not silently vanish)
    val empty = graft.ts.EventStats.abTest(
      ev.filter($"user_id" < 0), "user_id", "purchase", "event_type", "s1")
      .collect()
    assert(empty.length == 1)
    val e = empty.head
    assert(e.getLong(0) == 0L && e.getLong(2) == 0L)
    assert(e.isNullAt(4) && e.isNullAt(5)) // rates null, not 0/0
    assert(e.getInt(8) == 0) // den = 0 -> not significant, no error
  }

  test("transitionMatrix: ordered pairs, marginals, tie-broken by id") {
    val s = spark; import s.implicits._
    import java.sql.Timestamp
    def ts(x: Long) = new Timestamp(x * 1000L)
    val ev = Seq(
      (1L, ts(1), "view", 1L), (1L, ts(2), "click", 2L),
      (1L, ts(3), "purchase", 3L),
      // user 2: tie at ts=5 resolved by event_id: view(5,id=5) -> click(5,id=6)
      (2L, ts(5), "view", 5L), (2L, ts(5), "click", 6L),
      (3L, ts(9), "view", 9L) // singleton: no transition
    ).toDF("user_id", "ts", "event_type", "event_id")
    val out = graft.ts.EventStats.transitionMatrix(ev, "user_id", "ts",
      "event_type", "event_id")
      .collect().map(r => ((r.getString(0), r.getString(1)),
        (r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(out(("view", "click")) == ((2L, 2L, 1.0)))
    assert(out(("click", "purchase")) == ((1L, 1L, 1.0)))
    assert(out.size == 2)
  }

  test("apportionedSplit: exact largest-remainder counts, reproducible sets") {
    import graft.text.Curation
    val s = spark; import s.implicits._
    // n = 103, weights 80/10/10: bases 82/10/10 (sum 102), remainders
    // 40/30/30 -> the single leftover goes to 'train' (largest rem)
    val docs = (1L to 103L).toDF("id")
    val out = Curation.apportionedSplit(docs, "id",
      Seq("train" -> 80L, "val" -> 10L, "test" -> 10L), "s1", numShards = 4)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val counts = out.groupBy(_._2).view.mapValues(_.length).toMap
    assert(counts == Map("train" -> 83, "val" -> 10, "test" -> 10))
    // membership is a pure function of (seed, corpus)
    val again = Curation.apportionedSplit(docs.repartition(9), "id",
      Seq("train" -> 80L, "val" -> 10L, "test" -> 10L), "s1", numShards = 4)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(out.sortBy(_._1).toSeq == again.sortBy(_._1).toSeq)
    // remainder tie broken by split order: n = 5, weights 1/1/3 ->
    // bases 1/1/3, no leftover; n = 4 -> bases 0/0/2 rem 4/4/2,
    // leftover 2 -> first two splits bump
    val tiny = (1L to 4L).toDF("id")
    val tc = Curation.apportionedSplit(tiny, "id",
      Seq("a" -> 1L, "b" -> 1L, "c" -> 3L), "s1", 2)
      .collect().groupBy(_.getString(1)).view.mapValues(_.length).toMap
    assert(tc == Map("a" -> 1, "b" -> 1, "c" -> 2))
  }

  test("kFoldAssign: exact per-stratum balance, deterministic, disjoint") {
    import graft.text.Curation
    val s = spark; import s.implicits._
    // two strata of 11 and 7 rows; k=3 -> fold sizes {4,4,3} and {3,2,2}
    val df = ((1L to 11L).map(i => (i, "a")) ++
      (100L to 106L).map(i => (i, "b"))).toDF("id", "g")
    val out = Curation.kFoldAssign(df, "g", "id", k = 3, seed = "s1")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(out.forall(t => t._3 >= 0 && t._3 < 3))
    val sizes = out.groupBy(t => (t._2, t._3)).view.mapValues(_.length)
    assert(sizes.values.forall(n => n >= 2 && n <= 4))
    // within each stratum, fold sizes differ by at most one
    for (g <- Seq("a", "b")) {
      val ns = (0L to 2L).map(f => sizes.getOrElse((g, f), 0))
      assert(ns.max - ns.min <= 1, s"stratum $g sizes $ns")
    }
    // pure function of (seed, corpus): layout-invariant
    val again = Curation.kFoldAssign(df.repartition(7), "g", "id", 3, "s1")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(out.sortBy(_._1).toSeq == again.sortBy(_._1).toSeq)
    // a different seed shuffles membership (folds differ for some row)
    val other = Curation.kFoldAssign(df, "g", "id", 3, "s2")
      .collect().map(r => (r.getLong(0), r.getLong(2))).toMap
    assert(out.exists(t => other(t._1) != t._3))
    // column-clash guard
    intercept[IllegalArgumentException] {
      Curation.kFoldAssign(df.withColumn("fold", lit(1)), "g", "id", 3, "s")
    }
  }

  test("quantileTransform: endpoints exact, ties id-broken, singleton 0") {
    import graft.text.Curation
    val s = spark; import s.implicits._
    val df = Seq((1L, "a", 10L), (2L, "a", 20L), (3L, "a", 20L),
      (4L, "a", 40L), (9L, "b", 7L)).toDF("id", "g", "v")
    val out = Curation.quantileTransform(df, "g", "v", "id")
      .collect().map(r => (r.getLong(0), r.getLong(3), r.getDouble(4)))
      .sortBy(_._1)
    // group a: ranks 1..4 over (v, id) order -> quantiles 0, 1/3, 2/3, 1
    assert(out.map(_._2).toSeq == Seq(1L, 2L, 3L, 4L, 1L))
    assert(out(0)._3 == 0.0 && out(3)._3 == 1.0)
    assert(out(1)._3 == 1.0 / 3 && out(2)._3 == 2.0 / 3)
    // singleton group maps to 0
    assert(out(4)._3 == 0.0)
    // layout invariance
    val again = Curation.quantileTransform(df.repartition(5), "g", "v", "id")
      .collect().map(r => (r.getLong(0), r.getLong(3), r.getDouble(4)))
      .sortBy(_._1)
    assert(out.toSeq == again.toSeq)
  }

  test("epochUpsample: floor copies + deterministic fractional extras") {
    import graft.text.Curation
    val s = spark; import s.implicits._
    val docs = (1L to 200L).toDF("id")
    val out = Curation.epochUpsample(docs, "id", lit(2500000L), "s1")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val perId = out.groupBy(_._1).view.mapValues(_.length).toMap
    assert(perId.values.forall(c => c == 2 || c == 3))
    val extras = perId.values.count(_ == 3)
    assert(extras > 60 && extras < 140, s"~half expected, got $extras")
    // copy_n is dense 0..copies-1
    assert(out.groupBy(_._1).forall { case (_, rs) =>
      rs.map(_._2).sorted.toSeq == (0L until rs.length).toSeq })
    // epochs < 1: only the hash-chosen fraction appears, once
    val half = Curation.epochUpsample(docs, "id", lit(500000L), "s1")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(half.forall(_._2 == 0L))
    assert(half.length > 60 && half.length < 140)
    // determinism across layouts
    val again = Curation.epochUpsample(docs.repartition(7), "id",
      lit(500000L), "s1").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(half.sorted.toSeq == again.sorted.toSeq)
  }

  test("chunkDedup: first-occurrence keeper, ordered reassembly, layout invariance") {
    val s = spark; import s.implicits._
    val docs = Seq(
      (1L, "a b c d e"),   // chunks [a b][c d][e]
      (2L, "a b x"),       // [a b] duplicates doc 1 chunk 0
      (3L, "c d"))         // duplicates doc 1 chunk 1
      .toDF("doc_id", "text")
    val out = Curation.chunkDedup(docs, "doc_id", "text", chunkTokens = 2)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(out(1L) == (("a b c d e", 3L, 0L, 5L))) // earliest doc intact
    assert(out(2L) == (("x", 2L, 1L, 1L)))
    assert(out(3L) == (("", 1L, 1L, 0L))) // fully-dropped doc stays a row
    // keeper is min(doc_id, chunk_i), not arrival order: invariant
    // under any partition layout
    val again = Curation.chunkDedup(docs.repartition(7), "doc_id", "text",
        chunkTokens = 2)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(again == out)
    // a within-document repeat dedups against the doc's own first copy
    val self = Curation.chunkDedup(
        Seq((5L, "a b a b c")).toDF("doc_id", "text"),
        "doc_id", "text", chunkTokens = 2)
      .collect().map(r => (r.getString(1), r.getLong(3))).head
    assert(self == (("a b c", 1L)))
  }
}
