package graft.text

import graft.SparkSpec
import org.apache.spark.sql.functions._

class TextSpec extends SparkSpec {
  import spark.implicits._

  private def docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy dog"),   // exact dup of 1
    (3L, "the quick brown fox jumps over the lazy cat"),   // near dup of 1
    (4L, "el gato es un animal que vive en la casa"),
    (5L, "completely different content about spark engines and columnar execution here")
  ).toDF("doc_id", "text")

  test("tokenCount / punctCount / fingerprint basics") {
    val r = docs.filter($"doc_id" === 1L).select(
      TextAnalysis.tokenCount($"text"),
      TextAnalysis.punctCount(lit("a,b.c!d")),
      TextAnalysis.fingerprint($"text")).head()
    assert(r.getInt(0) == 9)
    assert(r.getInt(1) == 3)
    assert(r.getString(2).matches("[0-9a-f]{64}"))
  }

  test("fingerprint is stable under case and whitespace reflow") {
    val fp = docs.select(TextAnalysis.fingerprint(lit("The  Quick\tBrown")).as("a"),
      TextAnalysis.fingerprint(lit("the quick brown")).as("b")).head()
    assert(fp.getString(0) == fp.getString(1))
  }

  test("languageId picks profile language; CJK short-circuit") {
    val got = Seq(
      (1L, "the cat is in the house and it is happy"),
      (2L, "el gato es un animal que vive en la casa"),
      (3L, "der Hund ist ein Tier und die Katze ist hier"),
      (4L, "le chat est un animal et les chiens en France"),
      (5L, "这 是 中文 文本")
    ).toDF("id", "t").select($"id", TextAnalysis.languageId($"t").as("l"))
      .as[(Long, String)].collect().toMap
    assert(got == Map(1L -> "en", 2L -> "es", 3L -> "de", 4L -> "fr", 5L -> "zh"))
  }

  test("exact dedup keeps min-id representative per group") {
    val kept = Dedup.dedupExact(docs, "doc_id", "text")
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 3L, 4L, 5L)) // 2 collapsed into 1
  }

  test("shingles: k-word windows, distinct; short docs fall back whole-text") {
    val sh = docs.filter($"doc_id" === 1L)
      .select(Dedup.shingles($"text", 3).as("s")).as[Seq[String]].head()
    assert(sh.head == "the quick brown" && sh.size == 7)
    val short = Seq((1L, "only two")).toDF("id", "t")
      .select(Dedup.shingles($"t", 3).as("s")).as[Seq[String]].head()
    assert(short == Seq("only two"))
  }

  test("native shingle hashes == HOF reference fold (bit parity)") {
    // the HOF formulation ShingleHashes replaced — kept here as the
    // executable reference
    def hofShingleHashes(c: org.apache.spark.sql.Column, k: Int) = {
      val th = transform(TextAnalysis.tokens(c), t => xxhash64(t))
      aggregate(array(th), lit(null).cast("array<bigint>"), (_, t) =>
        when(size(t) >= k,
          transform(sequence(lit(0), size(t) - lit(k)),
            i => xxhash64((1 to k).map(j => element_at(t, (i + j).cast("int"))): _*)))
          .otherwise(array(xxhash64(concat_ws("\u0000", t)))))
    }
    val cases = docs.union(Seq((9L, "one"), (10L, "two words")).toDF("doc_id", "text"))
    for (k <- Seq(2, 3, 4)) {
      val both = cases.select(
        Dedup.shingleHashes($"text", k).as("native"),
        hofShingleHashes($"text", k).as("hof"))
        .as[(Seq[Long], Seq[Long])].collect()
      both.foreach { case (n, h) => assert(n == h, s"k=$k mismatch: $n vs $h") }
      // kernel distinct == set of the positional hashes
      val dd = cases.select(
        Dedup.shingleHashes($"text", k, distinct = true).as("d"),
        Dedup.shingleHashes($"text", k).as("all"))
        .as[(Seq[Long], Seq[Long])].collect()
      dd.foreach { case (d, all) =>
        assert(d.toSet == all.toSet && d.size == d.toSet.size,
          s"k=$k kernel distinct must equal the positional set")
      }
    }
  }

  test("combined62 == poly fold composition (poly is the reference impl)") {
    import graft.functions.TextHashes
    import org.apache.spark.unsafe.types.UTF8String
    for (s <- Seq("", "a", "ab", "hello world", "Ünïcödé ≠ ascii", "x" * 300)) {
      val u = UTF8String.fromString(s)
      assert(TextHashes.combined62(u) ==
        TextHashes.poly(u, TextHashes.BaseA) + (TextHashes.poly(u, TextHashes.BaseB) << 31),
        s"one-pass combined62 diverged from the reference fold for '$s'")
    }
  }

  test("document-frequency cut drops ubiquitous-shingle pairs, keeps real dups") {
    // EVERY doc shares one boilerplate phrase — the worst-case skew
    // shape (the boilerplate 3-gram has DF=22 → 231 join rows from one
    // key); 20 otherwise-unrelated docs plus one true near-dup pair
    // that ALSO carries the boilerplate
    val boiler = (0 until 20).map(i =>
      ((100 + i).toLong, s"click here now unique$i text$i body$i words$i"))
    val dups = Seq((1L, "click here now alpha beta gamma delta epsilon zeta"),
      (2L, "click here now alpha beta gamma delta epsilon eta"))
    val corpus = (boiler ++ dups).toDF("doc_id", "text")
    val uncut = Dedup.ngramJaccardPairs(corpus, "doc_id", "text",
      k = 3, threshold = 0.01)
    // without the cut the shared phrase manufactures a pair for every
    // doc combination (22·21/2 = 231) — the degenerate-bucket hazard
    assert(uncut.count() > 200)
    val cut = Dedup.ngramJaccardPairs(corpus, "doc_id", "text",
      k = 3, threshold = 0.01, maxShingleDf = 5)
      .select("id_a", "id_b", "jaccard")
      .as[(Long, Long, Double)].collect()
    // bounded: the ubiquitous shingle forms no candidates, so only the
    // genuinely-shared-content pair survives
    assert(cut.map(p => (p._1, p._2)).toSet == Set((1L, 2L)),
      s"cut should leave only the true near-dup pair, got ${cut.toSeq}")
    // and the emitted Jaccard is internally consistent: computed over
    // the non-ubiquitous shingle sets only. Doc 1/2 each have 7
    // 3-shingles; "click here now" (DF=22) is cut, leaving 6 per doc
    // with 5 shared → J = 5/7
    assert(cut.head._3 == 5.0 / 7.0,
      s"expected Jaccard over rare shingles 5/7, got ${cut.head._3}")
  }

  test("piiScrub replaces emails, IPs, and phones; leaves clean text alone") {
    val rows = Seq(
      ("write to a.user+tag@sub.example.org today",
        "write to <EMAIL> today"),
      ("server at 192.168.1.254 responded", "server at <IP> responded"),
      ("call 555-0123-987 now", "call <PHONE> now"),
      // all three in one string, scrubbed in one pass
      ("x@y.io via 10.0.0.1 or 5550123456",
        "<EMAIL> via <IP> or <PHONE>"),
      // NOT PII: short digit runs, version strings, bare words
      ("version 1.2 has 42 fixes since 2024", "version 1.2 has 42 fixes since 2024"),
      ("no pii here at all", "no pii here at all"))
    rows.toDF("t", "want")
      .select(TextAnalysis.piiScrub($"t").as("got"), $"want")
      .as[(String, String)].collect()
      .foreach { case (got, want) => assert(got == want) }
  }

  test("repetitionStats: top-gram share of all bigrams, hand-checked") {
    // "a b a b a b c" → bigrams: ab, ba, ab, ba, ab, bc →
    // top(ab)=3, total=6, ratio=0.5; single-token doc → 1 gram, ratio 1
    val df = Seq((1L, "a b a b a b c"), (2L, "solo")).toDF("doc_id", "text")
    val got = TextAnalysis.repetitionStats(df, "doc_id", "text", k = 2)
      .orderBy("doc_id")
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(got == Seq((1L, 3L, 6L, 0.5), (2L, 1L, 1L, 1.0)), got.toString)
  }

  test("packSequences: bucketed concat-and-chunk offsets, hand-checked") {
    // one bucket (buckets=1), budget 5; docs of 3/4/2 tokens in id order:
    // starts 0,3,7 → seqs 0,0,1 at offsets 0,3,2 (doc 2 straddles 5)
    val df = Seq((1L, "a b c"), (2L, "d e f g"), (3L, "h i"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.packSequences(df, "doc_id", "text",
      budget = 5, buckets = 1)
      .orderBy("doc_id")
      .select("doc_id", "seq_id", "start_offset", "n_tokens")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq((1L, 0L, 0L, 3L), (2L, 0L, 3L, 4L), (3L, 1L, 2L, 2L)),
      got.toString)
    // bucketed: each bucket packs independently from offset 0
    val b = TextAnalysis.packSequences(df, "doc_id", "text",
      budget = 5, buckets = 2)
      .orderBy("doc_id")
      .select("bucket", "seq_id", "start_offset")
      .as[(Long, Long, Long)].collect().toSeq
    // bucket 1: docs 1,3 (starts 0,3); bucket 0: doc 2 (start 0)
    assert(b == Seq((1L, 0L, 0L), (0L, 0L, 0L), (1L, 0L, 3L)), b.toString)
  }

  test("minhash LSH finds near-dup pair (1,3) and exact pair (1,2)") {
    val pairs = Dedup.minhashCandidatePairs(docs, "doc_id", "text",
      k = 2, numHashes = 32, bands = 16, threshold = 0.3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(pairs.contains((1L, 3L)) || pairs.contains((2L, 3L)))
    assert(!pairs.exists(p => p._1 == 5L || p._2 == 5L))
  }

  test("exact duplicates get est_jaccard 1.0") {
    val j = Dedup.minhashCandidatePairs(docs, "doc_id", "text",
      k = 2, numHashes = 16, bands = 8, threshold = 0.9)
      .filter($"id_a" === 1L && $"id_b" === 2L)
      .select("est_jaccard").as[Double].head()
    assert(j == 1.0)
  }

  test("simhash: identical docs distance 0; near dups close; distinct far") {
    val sh = docs.select($"doc_id", TextAnalysis.simhash62($"text").as("sh"))
      .as[(Long, Long)].collect().toMap
    assert(sh(1L) == sh(2L))
    val d13 = java.lang.Long.bitCount(sh(1L) ^ sh(3L))
    val d15 = java.lang.Long.bitCount(sh(1L) ^ sh(5L))
    assert(d13 < d15, s"near-dup hamming $d13 should be < unrelated $d15")
    val pairs = Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 10)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
  }

  test("dedupByPairsKeepBest: lower-quality pair member drops, ties keep min id") {
    val corpus = Seq(
      (1L, "a", 0.2), (2L, "b", 0.9),   // pair (1,2): 1 is worse → drops
      (3L, "c", 0.5), (4L, "d", 0.5),   // pair (3,4): tie → greater id 4 drops
      (5L, "e", 0.1)                    // unpaired → survives regardless
    ).toDF("doc_id", "text", "score")
    val pairs = Seq((1L, 2L), (3L, 4L)).toDF("id_a", "id_b")
    val kept = Dedup.dedupByPairsKeepBest(corpus, "doc_id", pairs, $"score")
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(2L, 3L, 5L), s"got $kept")
    // a NULL score is worse than any real score — the scoreable member
    // must survive (null treated as tie would wrongly keep the null doc)
    val withNull = Seq(
      (1L, "a", Option.empty[Double]), (2L, "b", Some(0.1)),
      (3L, "c", Some(0.1)), (4L, "d", Option.empty[Double]),
      (5L, "e", Option.empty[Double]), (6L, "f", Option.empty[Double])
    ).toDF("doc_id", "text", "score")
    val keptN = Dedup.dedupByPairsKeepBest(withNull, "doc_id",
        Seq((1L, 2L), (3L, 4L), (5L, 6L)).toDF("id_a", "id_b"), $"score")
      .select("doc_id").as[Long].collect().toSet
    // (1,2): null vs 0.1 → keep 2; (3,4): 0.1 vs null → keep 3;
    // (5,6): both null → id tiebreak keeps 5
    assert(keptN == Set(2L, 3L, 5L), s"got $keptN")
    // contrast: min-id survivorship would have kept doc 1, the worse copy
    val minId = Dedup.dedupByPairs(corpus, "doc_id", pairs)
      .select("doc_id").as[Long].collect().toSet
    assert(minId == Set(1L, 3L, 5L))
  }

  test("dedupNear: near-dup corpus keeps min-id survivors") {
    val kept = Dedup.dedupNear(docs, "doc_id", "text",
      k = 2, numHashes = 32, bands = 16, threshold = 0.3)
      .select("doc_id").as[Long].collect().toSet
    // cluster {1,2,3} survives as {1}; 4 and 5 untouched
    assert(kept == Set(1L, 4L, 5L))
  }

  test("connected components: chained clusters collapse to one survivor") {
    // chain: 1~3 and 2~3, but NO direct 1~2 pair
    val pairs = Seq((1L, 3L, 0.9), (2L, 3L, 0.9)).toDF("id_a", "id_b", "jaccard")
    val cc = Dedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    assert(cc == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
    val corpus = Seq(1L, 2L, 3L, 9L).toDF("doc_id")
    // greedy pair-based dedup keeps {1,2,9} — two reps of one cluster
    val greedy = Dedup.dedupByPairs(corpus, "doc_id", pairs)
      .as[Long].collect().toSet
    assert(greedy == Set(1L, 2L, 9L))
    // component-exact dedup keeps one per cluster
    val exact = Dedup.dedupByComponents(corpus, "doc_id", pairs)
      .as[Long].collect().toSet
    assert(exact == Set(1L, 9L))
  }

  test("connected components: long chain converges within iteration budget") {
    val chain = (1L until 9L).map(i => (i, i + 1, 1.0)).toDF("id_a", "id_b", "jaccard")
    val cc = Dedup.connectedComponents(chain).as[(Long, Long)].collect().toMap
    assert(cc.values.toSet == Set(1L) && cc.size == 9)
  }

  test("connected components: chain longer than maxIter terminates with a valid partial labeling") {
    // min-label moves one hop per iteration, so a 12-node chain cannot
    // fully converge in 3 iterations — the loop must still TERMINATE at
    // the budget and return a labeling where every component id is a
    // member of the node's true cluster (monotone partial progress)
    val chain = (1L until 12L).map(i => (i, i + 1, 1.0)).toDF("id_a", "id_b", "jaccard")
    val cc = Dedup.connectedComponents(chain, maxIter = 3)
      .as[(Long, Long)].collect().toMap
    assert(cc.size == 12)
    // min-label moves EXACTLY one hop per iteration, so after 3
    // iterations node id carries label id-3 (floored at the chain head)
    // — pins both termination at the budget and per-iteration progress
    assert(cc.forall { case (id, comp) => comp == math.max(1L, id - 3) },
      s"expected comp == max(1, id-3) after 3 iterations, got $cc")
    // and with the default budget the same chain fully converges
    val full = Dedup.connectedComponents(chain).as[(Long, Long)].collect().toMap
    assert(full.values.toSet == Set(1L))
  }

  test("ngram jaccard: exact dup = 1.0, near dup in (0,1), thresholds apply") {
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", k = 2, threshold = 0.2)
      .as[(Long, Long, Double)].collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(pairs((1L, 2L)) == 1.0)
    assert(pairs.get((1L, 3L)).exists(j => j > 0.2 && j < 1.0))
  }

  test("nearDupSourceMatrix: unordered source rollup over any pair list") {
    val sourced = Seq(
      (1L, "crawlA", "the quick brown fox jumps over the lazy dog"),
      (2L, "crawlB", "the quick brown fox jumps over the lazy dog"), // cross-source dup of 1
      (3L, "crawlA", "the quick brown fox jumps over the lazy cat"), // near dup of 1, same source
      (4L, "crawlB", "el gato es un animal que vive en la casa"),
      (5L, "crawlC", "completely different content about spark engines here")
    ).toDF("doc_id", "source", "text")
    val pairs = Dedup.ngramJaccardPairs(sourced, "doc_id", "text",
      k = 2, threshold = 0.2)
    val m = Dedup.nearDupSourceMatrix(pairs, sourced, "doc_id", "source")
      .as[(String, String, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    // pairs: (1,2) cross A-B, (1,3) within A, (2,3) cross A-B — and
    // least/greatest must fold (B,A) onto (A,B)
    assert(m(("crawlA", "crawlB")) == 2L, s"got $m")
    assert(m(("crawlA", "crawlA")) == 1L, s"got $m")
    assert(!m.keys.exists { case (a, b) => a > b },
      "matrix keys must be unordered-canonical (source_a <= source_b)")
    assert(m.values.sum == pairs.count(), "every pair attributed exactly once")
  }

  test("clusterSizeHistogram: label-invariant sizes over chained components") {
    // chain 1~2, 2~3 (no direct 1~3 edge) must count as ONE size-3
    // cluster; 7~9 is a separate pair; singletons never appear
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 9L)).toDF("id_a", "id_b")
    val h = Dedup.clusterSizeHistogram(pairs)
      .as[(Long, Long)].collect().toMap
    assert(h == Map(3L -> 1L, 2L -> 1L), s"got $h")
  }

  test("systematicResample: deterministic interval picks, Σcopies = k") {
    val w = Seq((1L, 1L), (2L, 5L), (3L, 1L), (4L, 1L), (5L, 0L))
      .toDF("doc_id", "w")
    // W=8, thresholds floor(8·(2j+1)/8) = 1,3,5,7; intervals in id
    // order: 1:[0,1) 2:[1,6) 3:[6,7) 4:[7,8) → doc2 ×3, doc4 ×1;
    // doc5's zero-width interval can never be hit
    val r = TextAnalysis.systematicResample(w, "doc_id", "w", k = 4)
      .as[(Long, Long, Long)].collect().map(x => x._1 -> (x._2, x._3)).toMap
    assert(r == Map(2L -> (5L, 3L), 4L -> (1L, 1L)), s"got $r")
    // the bucketed distributed prefix sum must reproduce the global
    // layout whatever the bucket count
    val many = TextAnalysis
      .systematicResample(w, "doc_id", "w", k = 4, buckets = 3)
      .as[(Long, Long, Long)].collect().toSet
    assert(many == r.map { case (id, (ww, c)) => (id, ww, c) }.toSet)
  }

  test("vocabulary: df over distinct (token, doc), tf over occurrences") {
    val corpus = Seq(
      (1L, "the cat and the dog"),
      (2L, "the dog runs"),
      (3L, null.asInstanceOf[String]),
      (4L, "   ")
    ).toDF("doc_id", "text")
    val v = TextAnalysis.vocabulary(corpus, "doc_id", "text")
      .as[(String, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(v("the") == (2L, 3L))  // docs 1+2; twice in doc 1, once in doc 2
    assert(v("dog") == (2L, 2L))
    assert(v("cat") == (1L, 1L))
    assert(v("runs") == (1L, 1L))
    // null text contributes nothing; whitespace-only text yields only the
    // empty token, which is filtered
    assert(!v.contains(""))
    assert(v.size == 5, s"vocab: $v") // the cat and dog runs
  }

  test("distinctiveTerms: tf/df ranking, topK cut, token tiebreak") {
    val corpus = Seq(
      (1L, "alpha alpha common common"),
      (2L, "beta common"),
      (3L, "common gamma delta")
    ).toDF("doc_id", "text")
    val r = TextAnalysis.distinctiveTerms(corpus, "doc_id", "text", topK = 2)
      .orderBy($"doc_id", $"rnk")
      .as[(Long, String, Long, Long, Double, Long)].collect()
    val d1 = r.filter(_._1 == 1L)
    // alpha: tf=2, df=1 → 2.0 beats common: tf=2, df=3 → 0.667
    assert(d1.map(t => (t._2, t._3, t._4)).toSeq ==
      Seq(("alpha", 2L, 1L), ("common", 2L, 3L)))
    assert(d1.head._5 == 2.0)
    val d3 = r.filter(_._1 == 3L)
    // delta and gamma tie at tf=1, df=1 → token-ascending tiebreak
    assert(d3.map(_._2).toSeq == Seq("delta", "gamma"))
    // topK cut: doc 3 has 3 terms but only 2 survive
    assert(d3.length == 2)
  }

  test("corpusDatasheet: per-source rollup with exact lower median") {
    val corpus = Seq(
      (1L, "srcA", "one two three"),
      (2L, "srcA", "one"),
      (3L, "srcA", "one two three four five"),
      (4L, "srcA", "one two"),
      (5L, "srcB", "a b c d"),
      (6L, "srcB", null.asInstanceOf[String])
    ).toDF("doc_id", "source", "text")
    val r = TextAnalysis.corpusDatasheet(corpus, "doc_id", "text", "source")
      .orderBy("source").collect()
    val a = r(0)
    // srcA lengths sorted: 1,2,3,5 → lower median at rank (4+1) div 2 = 2
    assert(a.getString(0) == "srcA" && a.getLong(1) == 4L && a.getLong(2) == 11L)
    assert(a.getAs[Long]("median_tokens") == 2L)
    val b = r(1)
    assert(b.getString(0) == "srcB" && b.getLong(1) == 1L && b.getLong(2) == 4L,
      "null-text doc contributes nothing")
    assert(b.getAs[Long]("median_tokens") == 4L)
    // the ppm-sum mean equals the plain average of per-doc scores
    val exp = corpus.filter($"source" === "srcA")
      .select(TextAnalysis.qualityScore($"text", TextAnalysis.LangProfiles("en")))
      .as[Double].collect()
    assert(math.abs(a.getAs[Double]("mean_quality") - exp.sum / exp.length) < 1e-9)
  }

  test("chunkWindows: stride grid, overlap, short tail, null passthrough") {
    val corpus = Seq(
      (1L, "t0 t1 t2 t3 t4 t5 t6 t7 t8 t9"), // 10 tokens
      (2L, "a b"),                            // shorter than one window
      (3L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val ch = TextAnalysis.chunkWindows(corpus, "doc_id", "text",
        window = 4, stride = 3)
      .orderBy($"doc_id", $"chunk_id")
      .as[(Long, Long, Long, Long, String)].collect()
    val d1 = ch.filter(_._1 == 1L)
    // starts 0,3,6,9: three full windows and a 1-token tail
    assert(d1.map(c => (c._2, c._3, c._4)).toSeq ==
      Seq((0L, 0L, 4L), (1L, 3L, 4L), (2L, 6L, 4L), (3L, 9L, 1L)))
    assert(d1.map(_._5).toSeq ==
      Seq("t0 t1 t2 t3", "t3 t4 t5 t6", "t6 t7 t8 t9", "t9"))
    // consecutive chunks overlap by window - stride = 1 token
    assert(d1(0)._5.split(" ").last == d1(1)._5.split(" ").head)
    val d2 = ch.filter(_._1 == 2L)
    assert(d2.map(c => (c._3, c._4, c._5)).toSeq == Seq((0L, 2L, "a b")))
    assert(!ch.exists(_._1 == 3L), "null text yields no chunks")
    intercept[IllegalArgumentException] {
      TextAnalysis.chunkWindows(corpus, "doc_id", "text", window = 2, stride = 3)
    }
  }

  test("chunkWindows and vocabulary match an independent in-memory model") {
    // seeded random corpus incl. empty and null texts — the model is a
    // plain Scala re-implementation, so agreement checks the Spark
    // expression semantics independently of the DuckDB oracle
    val rnd = new scala.util.Random(7)
    val vocabList = Vector("aa", "bb", "cc", "dd", "ee", "ff", "gg", "hh")
    val rows: Seq[(Long, String)] = (1L to 60L).map { i =>
      val n = rnd.nextInt(12)
      val t =
        if (rnd.nextInt(10) == 0) null
        else Seq.fill(n)(vocabList(rnd.nextInt(vocabList.size))).mkString(" ")
      (i, t)
    }
    val df = rows.toDF("doc_id", "text")
    def toks(s: String): Seq[String] = s.trim.split("\\s+").toSeq

    val (window, stride) = (4, 2)
    val expChunks = rows.collect { case (id, t) if t != null =>
      val tk = toks(t)
      (0 until tk.size by stride).map { st =>
        val len = math.min(window, tk.size - st)
        (id, (st / stride).toLong, st.toLong, len.toLong,
          tk.slice(st, st + len).mkString(" "))
      }
    }.flatten.toSet
    val gotChunks = TextAnalysis
      .chunkWindows(df, "doc_id", "text", window, stride)
      .as[(Long, Long, Long, Long, String)].collect().toSet
    assert(gotChunks == expChunks)

    val pairs = rows.collect { case (id, t) if t != null =>
      toks(t).filter(_.nonEmpty).map(tok => (tok, id))
    }.flatten
    val expVocab = pairs.groupBy(_._1).map { case (tok, ps) =>
      (tok, ps.map(_._2).distinct.size.toLong, ps.size.toLong)
    }.toSet
    val gotVocab = TextAnalysis.vocabulary(df, "doc_id", "text")
      .as[(String, Long, Long)].collect().toSet
    assert(gotVocab == expVocab)
  }

  test("gopherFlags: each rule flips on its own trigger") {
    val base = (1 to 60).map(i => s"the word$i").mkString(" ") // 120 tokens, healthy
    val corpus = Seq(
      (1L, base),                                          // passes everything
      (2L, "too short for gopher"),                        // word_count_ok=false
      (3L, base + " " + Seq.fill(60)("####### #######").mkString(" ")), // symbols
      (4L, (1 to 30).map(i => s"- bullet line $i").mkString("\n")),     // bullets
      (5L, base.replace("the ", "123 456 ")),              // alpha + stopwords
      (6L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val got = TextAnalysis.gopherFlags(corpus, "doc_id", "text")
      .orderBy("doc_id")
      .as[(Long, Boolean, Boolean, Boolean, Boolean, Boolean, Boolean, Boolean)]
      .collect()
    val byId = got.map(r => r._1 -> r).toMap
    assert(byId(1L) == ((1L, true, true, true, true, true, true, true)))
    assert(!byId(2L)._2 && !byId(2L)._8, "short doc fails word count + pass")
    assert(!byId(3L)._4, "symbol-heavy doc fails symbol_ok")
    assert(!byId(4L)._5, "all-bullet doc fails bullet_ok")
    assert(!byId(5L)._6 && !byId(5L)._7, "digit-heavy doc fails alpha + stopword")
    assert(!byId.contains(6L), "null text excluded")
  }

  test("typicalityScores: mean corpus bigram frequency, hand-checked") {
    val corpus = Seq(
      (1L, "a b a b"),  // bigrams "a b"×2, "b a"×1
      (2L, "a b c"),    // "a b", "b c"
      (3L, "z")         // single token → whole-string fallback
    ).toDF("doc_id", "text")
    val got = TextAnalysis.typicalityScores(corpus, "doc_id", "text")
      .orderBy("doc_id")
      .as[(Long, Long, Long, Double)].collect().toSeq
    // corpus cf: "a b"=3, "b a"=1, "b c"=1, "z"=1
    assert(got == Seq(
      (1L, 3L, 7L, 7.0 / 3.0),   // 3+1+3
      (2L, 2L, 4L, 2.0),         // 3+1
      (3L, 1L, 1L, 1.0)), got.toString)
  }

  test("importanceWeights: target-like docs outweigh off-domain ones; fixed-point model") {
    // target sample = legal-ish docs; raw corpus has two legal docs,
    // one off-domain doc. DSIR must rank the legal docs above the
    // recipe doc. Large bucket count → no feature collisions here.
    val raw = Seq(
      (1L, "the party hereby agrees to the terms of the contract"),
      (2L, "the party hereby agrees to all terms of this contract"),
      (3L, "stir the flour into the butter then bake until golden")
    ).toDF("doc_id", "text")
    val target = Seq(
      (100L, "the party hereby agrees to the terms and conditions"),
      (101L, "this contract binds the party to the terms herein")
    ).toDF("doc_id", "text")
    val got = TextAnalysis.importanceWeights(raw, target, "doc_id", "text",
      buckets = 65536)
      .orderBy("doc_id")
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(got.map(_._1) == Seq(1L, 2L, 3L))
    // n_feats = positional bigram count = tokens - 1
    assert(got.map(_._2) == Seq(9L, 9L, 9L), got.toString)
    val w = got.map(r => r._1 -> r._4).toMap
    assert(w(1L) > w(3L) && w(2L) > w(3L),
      s"legal docs must outweigh the recipe doc: $w")
    // display weight is exactly the fixed-point value / 1e6
    got.foreach(r => assert(r._4 == r._3.toDouble / 1e6, r.toString))
    // independent model: w = sum_f c_f*(L(ct_t+1)-L(ct_r+1))
    //                      + n*(L(Nr+B)-L(Nt+B)), L(n)=floor(ln(n)*1e6)
    def L(n: Long): Long = math.floor(math.log(n.toDouble) * 1e6).toLong
    def bigrams(s: String): Seq[String] =
      s.split("\\s+").toSeq.sliding(2).map(_.mkString(" ")).toSeq
    val rawAll = Seq(1L, 2L, 3L).flatMap(i => bigrams(Map(
      1L -> "the party hereby agrees to the terms of the contract",
      2L -> "the party hereby agrees to all terms of this contract",
      3L -> "stir the flour into the butter then bake until golden")(i)))
    val tgtAll = Seq(
      "the party hereby agrees to the terms and conditions",
      "this contract binds the party to the terms herein").flatMap(bigrams)
    val rc = rawAll.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val tc = tgtAll.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val lnorm = L(rawAll.size + 65536L) - L(tgtAll.size + 65536L)
    val expected1 = bigrams(
      "the party hereby agrees to the terms of the contract")
      .map(f => L(tc.getOrElse(f, 0L) + 1) - L(rc(f) + 1)).sum + 9L * lnorm
    assert(got.head._3 == expected1,
      s"doc 1 fixed-point weight ${got.head._3} != model $expected1")
  }

  test("sampleExactK: exact count per stratum, deterministic, small strata whole") {
    val corpus = (1L to 50L).map(i => (i, if (i <= 40) "big" else "small"))
      .toDF("doc_id", "stratum")
    val got = TextAnalysis.sampleExactK(corpus, "doc_id", "stratum", k = 12)
      .as[(Long, String)].collect()
    val byStratum = got.groupBy(_._2).view.mapValues(_.map(_._1).toSet).toMap
    assert(byStratum("big").size == 12, "exactly k from the large stratum")
    assert(byStratum("small") == (41L to 50L).toSet,
      "strata smaller than k pass through whole")
    // deterministic: a second evaluation picks the identical rows
    val again = TextAnalysis.sampleExactK(corpus, "doc_id", "stratum", k = 12)
      .as[(Long, String)].collect().toSet
    assert(again == got.toSet)
    intercept[IllegalArgumentException] {
      TextAnalysis.sampleExactK(corpus, "doc_id", "stratum", k = 0)
    }
  }

  test("sampleByMix: deterministic, stratum-rated, ppm-monotone") {
    val rows = (1L to 2000L).map(i => (i, s"src${i % 4}")).toDF("id", "stratum")
    def sample(rates: Map[String, Long], dflt: Long): Set[Long] =
      TextAnalysis.sampleByMix(rows, "id", "stratum", rates, dflt)
        .select("id").as[Long].collect().toSet
    // rate 1e6 keeps everything in the stratum; rate 0 keeps nothing
    val full = sample(Map("src0" -> 1000000L), 0L)
    assert(full == (1L to 2000L).filter(_ % 4 == 0).toSet)
    // deterministic: identical call → identical sample
    val a = sample(Map("src1" -> 400000L), 100000L)
    assert(a == sample(Map("src1" -> 400000L), 100000L))
    // monotone in the rate: a higher ppm is a superset
    val b = sample(Map("src1" -> 700000L), 100000L)
    assert(a.subsetOf(b), "raising a stratum rate must only add rows")
    // the coin ignores the stratum column: a row's membership at rate r
    // is the same whether r arrives via the map or the default
    assert(sample(Map("src1" -> 400000L), 400000L)
      .filter(_ % 4 == 1) == a.filter(_ % 4 == 1))
    // roughly rate-proportional (hash uniformity sanity, wide band)
    val frac = a.count(_ % 4 == 1).toDouble / 500
    assert(frac > 0.25 && frac < 0.55, s"src1 kept $frac at rate 0.4")
  }

  test("assignSplits: exhaustive partition, deterministic, mix-independent") {
    val rows = (1L to 3000L).map(i => (i, s"src${i % 4}")).toDF("id", "stratum")
    val splits = TextAnalysis.assignSplits(rows, "id")
      .select("id", "split").as[(Long, String)].collect()
    // every row labeled exactly once with a known label
    assert(splits.length == 3000 &&
      splits.forall(s => Set("train", "val", "test")(s._2)))
    val byLabel = splits.groupBy(_._2).view.mapValues(_.length).toMap
    // coarse proportionality to 80/10/10 (deterministic, so these are
    // fixed numbers — the band just avoids pinning exact hash counts)
    assert(byLabel("train") > 2200 && byLabel("val") > 150 && byLabel("test") > 150,
      s"split sizes: $byLabel")
    // determinism
    assert(TextAnalysis.assignSplits(rows, "id")
      .select("id", "split").as[(Long, String)].collect().toSet == splits.toSet)
    // SALTED coin: a mix-sampled subset (low sampler coins) still spans
    // all three splits — the failure mode the salt exists to prevent
    val sampled = TextAnalysis.assignSplits(
      TextAnalysis.sampleByMix(rows, "id", "stratum", Map.empty, 300000L), "id")
      .select("split").as[String].collect().toSet
    assert(sampled == Set("train", "val", "test"),
      s"mix survivors must still span all splits, got $sampled")
    // weights must sum to exactly 1e6
    assertThrows[IllegalArgumentException](
      TextAnalysis.assignSplits(rows, "id", Seq("a" -> 1L, "b" -> 2L)))
  }

  test("leakageSafeSplits: cluster members share a split, chains included") {
    val docs = Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d"), (10L, "e"))
      .toDF("doc_id", "text")
    // 1~2~3 is a CHAIN (no direct 1~3 pair) — CC must still co-split
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    val got = TextAnalysis.leakageSafeSplits(docs, "doc_id", pairs)
      .select("doc_id", "group_id", "split")
      .as[(Long, Long, String)].collect()
      .map { case (d, g, s) => d -> ((g, s)) }.toMap
    // whole chain groups under min id 1 and shares ONE split label
    assert(got(1L)._1 == 1L && got(2L)._1 == 1L && got(3L)._1 == 1L)
    assert(Set(got(1L)._2, got(2L)._2, got(3L)._2).size == 1)
    // unpaired docs are their own group, with q57's coin for that id
    assert(got(4L)._1 == 4L && got(10L)._1 == 10L)
    val solo = TextAnalysis.assignSplits(
      Seq((4L, "x"), (10L, "y")).toDF("group_id", "t"), "group_id")
      .select("group_id", "split").as[(Long, String)].collect().toMap
    assert(got(4L)._2 == solo(4L) && got(10L)._2 == solo(10L))
  }

  test("selectByBudget: null-text docs are not selectable and charge nothing") {
    val corpus = Seq(
      (1L, "the cat sat on the mat and it was a very fine day for all"),
      (2L, null.asInstanceOf[String]),
      (3L, "a of and to in is that it for the with words here too now")
    ).toDF("doc_id", "text")
    val got = TextAnalysis.selectByBudget(corpus, "doc_id", "text",
      budget = 1000000L).select("doc_id").as[Long].collect().toSet
    // generous budget: both real docs selected, the null row neither
    // crashes the per-bucket totals nor rides along unaccounted
    assert(got == Set(1L, 3L), s"got $got")
  }

  test("selectByBudget equals the global-window prefix, any bucket count") {
    val corpus = (1L to 300L).map { i =>
      val quality = "the a of and to in is that it for " * (i % 7).toInt
      (i, s"doc $i body with some words $quality")
    }.toDF("doc_id", "text")
    // reference: the single global ordered window (what the oracle runs)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("quality").desc, col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val scored = corpus.select(col("doc_id"),
      TextAnalysis.qualityScore(col("text"), TextAnalysis.LangProfiles("en"))
        .as("quality"),
      TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"))
    for (budget <- Seq(0L, 500L, 3000L, 1000000L)) {
      val expected = scored.withColumn("c", sum("n_tokens").over(w))
        .filter(col("c") <= budget).select("doc_id").as[Long].collect().toSet
      for (buckets <- Seq(1, 7, 100)) {
        val got = TextAnalysis.selectByBudget(corpus, "doc_id", "text",
          budget, buckets = buckets).select("doc_id").as[Long].collect().toSet
        assert(got == expected,
          s"budget=$budget buckets=$buckets: got ${got.size}, want ${expected.size}")
      }
    }
  }

  test("contentChunks: exact partition, content-aligned across an insertion") {
    val a = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val b = s"INSERTED PREFIX WORDS HERE $a" // same passage, shifted
    val df2 = Seq((1L, a), (2L, b)).toDF("doc_id", "text")
    val rows = TextAnalysis.contentChunks(df2, "doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    // chunks partition each doc's tokens exactly: starts contiguous,
    // lengths sum to token count
    for ((id, n) <- Seq(1L -> 20L, 2L -> 24L)) {
      val cs = rows.filter(_._1 == id).sortBy(_._2)
      assert(cs.head._3 == 0L)
      assert(cs.map(_._4).sum == n, s"doc $id lengths must sum to $n")
      cs.sliding(2).foreach {
        case Array(x, y) => assert(y._3 == x._3 + x._4, "contiguous spans")
        case _ =>
      }
    }
    // content alignment: every boundary of doc 1 past the warmup k-gram
    // window reappears in doc 2 (shifted by 4) -> shared chunk hashes
    val h1 = rows.filter(_._1 == 1L).map(_._5).toSet
    val h2 = rows.filter(_._1 == 2L).map(_._5).toSet
    assert((h1 & h2).nonEmpty,
      s"shared passage must produce shared chunk hashes: $h1 vs $h2")
    // determinism
    val again = TextAnalysis.contentChunks(df2, "doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(rows.sortBy(r => (r._1, r._2)).sameElements(again.sortBy(r => (r._1, r._2))))
  }

  test("winnowingPairs: shared long run detected, disjoint docs clean") {
    val run = "one two three four five six seven eight nine ten eleven twelve"
    val corpus = Seq(
      (1L, s"$run and a unique alpha tail here"),
      (2L, s"completely different beta lead then $run"),
      (3L, "nothing in common with anything else at all whatsoever today")
    ).toDF("doc_id", "text")
    val pairs = Dedup.winnowingPairs(corpus, "doc_id", "text",
      minShared = 1L)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // the 12-token shared run >= w+k-1 = 7 forces shared fingerprints
    assert(pairs.contains((1L, 2L)), s"shared run must be detected: $pairs")
    assert(!pairs.keySet.exists(p => p._1 == 3L || p._2 == 3L),
      s"disjoint doc must not pair: $pairs")
    // shared count matches a direct fingerprint-set intersection
    val fps = corpus.select(col("doc_id"),
      TextAnalysis.winnowingFingerprints(col("text")).as("f"))
      .as[(Long, Seq[Long])].collect().toMap
    assert(pairs((1L, 2L)) == fps(1L).toSet.intersect(fps(2L).toSet).size)
  }

  test("winnowingPairs: maxFingerprintDf cuts saturated fingerprints pre-join") {
    // the boiler run opens ALL three docs; docs 1,2 additionally share
    // the pairRun and keep IDENTICAL context through it (divergence
    // only in the tails, > w+k-1 tokens past the shared region), so
    // every boiler-region fingerprint selected in doc 1 is selected in
    // doc 2 too — boiler support is df=3 exactly, pairRun support df=2.
    // The cut at 2 removes the saturated boiler fingerprints BEFORE the
    // self-join: doc 3 pairs with nothing, the genuine 1-2 pair
    // survives on its df=2 run
    val boiler = "one two three four five six seven eight nine ten eleven twelve"
    val pairRun = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val corpus = Seq(
      (1L, s"$boiler $pairRun plus a unique alef tail closing doc one"),
      (2L, s"$boiler $pairRun with some other entirely different ending"),
      (3L, s"$boiler and nothing else shared with anyone today at all")
    ).toDF("doc_id", "text")
    def pairKeys(maxDf: Long) = Dedup.winnowingPairs(corpus, "doc_id",
      "text", minShared = 1L, maxFingerprintDf = maxDf)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // uncut: every pair shares the boilerplate run's fingerprints
    assert(pairKeys(0L) == Set((1L, 2L), (1L, 3L), (2L, 3L)))
    assert(pairKeys(2L) == Set((1L, 2L)),
      "df-cut must drop pairs supported only by the saturated run")
  }

  test("duplicatedChunks: shared passage found at different offsets") {
    val passage = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val corpus = Seq(
      (1L, passage),
      (2L, s"TOTALLY DIFFERENT LEAD IN WORDS $passage"),
      (3L, "unrelated content about engines and pipelines running fast")
    ).toDF("doc_id", "text")
    val dup = TextAnalysis.duplicatedChunks(corpus, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(dup.nonEmpty, "offset-shifted shared passage must surface")
    assert(dup.forall(_._2 == 2), s"each duplicated chunk spans docs 1+2: ${dup.toSeq}")
    // doc 3 shares nothing: no chunk hash of doc 3 appears
    val doc3Hashes = TextAnalysis.contentChunks(
      corpus.filter(col("doc_id") === 3L), "doc_id", "text")
      .select("chunk_hash").as[Long].collect().toSet
    assert(dup.map(_._1).toSet.intersect(doc3Hashes).isEmpty)
  }

  test("editVerifiedPairs: order-scrambled dup rejected, near-identical kept") {
    val base = "the quick brown fox jumps over the lazy dog near the old river bank today"
    val nearDup = base.replace("today", "tonight")
    // same token multiset, scrambled order: Jaccard-identical, edit-far
    val scrambled = base.split(" ").reverse.mkString(" ")
    val corpus = Seq((1L, base), (2L, nearDup), (3L, scrambled))
      .toDF("doc_id", "text")
    def editDist(s: String, t: String): Int = {
      val d = Array.tabulate(s.length + 1, t.length + 1)((i, j) => if (j == 0) i else if (i == 0) j else 0)
      for (i <- 1 to s.length; j <- 1 to t.length)
        d(i)(j) = Seq(d(i - 1)(j) + 1, d(i)(j - 1) + 1,
          d(i - 1)(j - 1) + (if (s(i - 1) == t(j - 1)) 0 else 1)).min
      d(s.length)(t.length)
    }
    val got = Dedup.editVerifiedPairs(corpus, "doc_id", "text",
      jaccardThreshold = 0.1, maxEdit = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got.keySet == Set((1L, 2L)), s"only the true near-dup survives: $got")
    assert(got((1L, 2L)) == editDist(base.toLowerCase, nearDup.toLowerCase))
    // without the edit gate the scrambled doc WOULD pair (bag overlap) —
    // 1-gram shingles make token order invisible to Jaccard
    val bagPairs = Dedup.ngramJaccardPairs(corpus, "doc_id", "text",
      k = 1, threshold = 0.9).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(bagPairs.contains((1L, 3L)),
      s"fixture must make Jaccard blind to order: $bagPairs")
  }

  test("capPerStratum keeps the k best by quality, deterministic tiebreak") {
    // quality rises with token count (length term); stratum s0 has 6
    // docs, s1 has 2 — cap at 3
    val corpus = Seq(
      (1L, "s0", "a b"), (2L, "s0", "a b c d e f g h"), (3L, "s0", "a b c d"),
      (4L, "s0", "a b c d e f"), (5L, "s0", "a"), (6L, "s0", "a b c"),
      (7L, "s1", "x y z"), (8L, "s1", "x y")
    ).toDF("doc_id", "source", "text")
    val got = TextAnalysis.capPerStratum(corpus, "doc_id", "text", "source", 3)
      .select("doc_id").as[Long].collect().toSet
    // expected: in-memory (quality desc, id) rank per stratum over the
    // same scored projection (quality arithmetic itself is q33's oracle)
    val want = corpus
      .select(col("source"), col("doc_id"),
        TextAnalysis.qualityScore(col("text"), TextAnalysis.LangProfiles("en"))
          .as("q"))
      .as[(String, Long, Double)].collect()
      .groupBy(_._1).values.flatMap(
        _.sortBy { case (_, id, q) => (-q, id) }.take(3).map(_._2)).toSet
    assert(got == want)
    assert(got.count(_ => true) == 5) // s0 capped 6 -> 3, s1 keeps both
    // tiebreak: equal quality -> lower id survives
    val tie = Seq((10L, "s", "a b c"), (11L, "s", "d e f"), (12L, "s", "g h i"))
      .toDF("doc_id", "source", "text")
    val kept = TextAnalysis.capPerStratum(tie, "doc_id", "text", "source", 2)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(10L, 11L))
  }

  test("prefix-filtered all-pairs equals the full self-join at every threshold") {
    // near-dup-rich corpus: shared sentence stems with local edits
    val corpus = (1L to 60L).map { i =>
      val stem = s"shared passage stem ${i % 8} with common phrasing across docs"
      (i, s"$stem and unique tail $i plus ${if (i % 3 == 0) "variant wording" else "stable wording"}")
    }.toDF("doc_id", "text")
    val idx = Dedup.shingleIndex(corpus, "doc_id", "text", k = 3)
    for (t <- Seq(0.2, 0.3, 0.5, 0.8, 1.0)) {
      val full = Dedup.ngramJaccardPairsFromIndex(idx, t)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val pref = Dedup.ngramJaccardPairsPrefixFromIndex(idx, t)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(pref == full, s"threshold=$t: prefix ${pref.size} vs full ${full.size}")
    }
  }

  test("prefix filter verify join broadcasts under the auto-sized hint") {
    val corpus = (1L to 50L).map { i =>
      (i, s"shared stem ${i % 6} with common phrasing and unique tail $i")
    }.toDF("doc_id", "text")
    val idx = Dedup.shingleIndex(corpus, "doc_id", "text", k = 3)
    // default cap (1 GiB TOTAL residency across both verify legs, i.e.
    // ≤512 MiB per leg): the per-doc array table is tiny here, so the
    // verify legs must carry the explicit broadcast hint — the 100×
    // configuration that keeps the candidate-pair stream out of any
    // exchange must not depend on the session's 10 MB threshold
    val hinted = Dedup.ngramJaccardPairsPrefixFromIndex(idx, 0.5)
    val p = hinted.queryExecution.executedPlan.toString()
    assert(p.contains("BroadcastHashJoin"),
      s"verify legs must broadcast the per-doc array table:\n$p")
    // cap 0 forces the shuffle plan; results identical either way
    val shuffled = Dedup.ngramJaccardPairsPrefixFromIndex(idx, 0.5,
      verifyBroadcastMaxBytes = 0L)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs(hinted) == pairs(shuffled))
  }

  test("prefix filter explodes strictly fewer rows than the full index at high t") {
    val corpus = (1L to 40L).map { i =>
      (i, s"a long document body number $i with plenty of shared vocabulary " +
        "over many shingles common to all documents in this corpus")
    }.toDF("doc_id", "text")
    val idx = Dedup.shingleIndex(corpus, "doc_id", "text", k = 3)
    // the candidate join input is the prefix explode; at t=0.9 the
    // prefix is ~10% of each set
    val fullRows = idx.count()
    val tPpm = 900000L
    val prefRows = idx.groupBy("id").agg(count(lit(1)).as("s"))
      .select((col("s") - ((col("s") * tPpm + 999999L -
        pmod(col("s") * tPpm + 999999L, lit(1000000L))) / 1000000L) + 1).as("l"))
      .agg(sum("l")).head().getDouble(0)
    assert(prefRows < fullRows * 0.3,
      s"prefix rows $prefRows vs full $fullRows — filter not pruning")
  }

  test("assignShards equals the global-window layout, any bucket count") {
    val corpus = (1L to 200L).map { i =>
      (i, ("tok " * (1 + (i % 13)).toInt).trim)
    }.toDF("doc_id", "text")
    // reference: ONE global (coin, id) window — exclusive running sum
    // is each doc's start offset; shard = start div target
    val coin = pmod(
      graft.functions.TextHashExpressions.polyHash62(
        concat(col("doc_id").cast("string"), lit("#shard"))),
      lit(1000000L))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("__coin"), col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val expected = corpus
      .select(col("doc_id"), col("text"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"))
      .withColumn("__coin", coin)
      .withColumn("strt", coalesce(sum("n_tokens").over(w), lit(0L)))
      .select(col("doc_id"), (col("strt") - pmod(col("strt"), lit(40L))) / 40L)
      .as[(Long, Double)].collect().map { case (id, s) => id -> s.toLong }.toMap
    for (buckets <- Seq(1, 7, 100)) {
      val got = TextAnalysis.assignShards(corpus, "doc_id", "text",
        targetTokens = 40L, buckets = buckets)
        .select("doc_id", "shard_id").as[(Long, Long)].collect().toMap
      assert(got == expected, s"buckets=$buckets")
    }
    // shards are contiguous from 0 and balanced: every shard except the
    // last starts within one max-doc-length of its nominal boundary
    val ids = expected.values.toSet
    assert(ids == (0L until (ids.max + 1)).toSet)
  }

  test("quantileNormalizeQuality: rank ppm per source, ties share, singleton pins 10⁶") {
    // hand-computed quality_e6 ("a" is an en stopword, so the stopword
    // fraction DILUTES with length): doc4 542285 < docs 1,3 (tie,
    // 612000) < doc2 620000
    val corpus = Seq(
      (1L, "s1", "a b c"), (2L, "s1", "a b c d e"), (3L, "s1", "a b c"),
      (4L, "s1", "a b c d e f g"),
      (5L, "s2", "x")) // singleton source
      .toDF("doc_id", "source", "text")
    val got = TextAnalysis.quantileNormalizeQuality(
        corpus, "doc_id", "text", "source")
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    // s1 (n=4): rank 1 → 0; ranks 2,2 (tie) → 1e6//3 = 333333;
    // rank 4 → 1e6
    assert(got == Map(4L -> 0L, 1L -> 333333L, 3L -> 333333L,
      2L -> 1000000L, 5L -> 1000000L))
  }

  test("charEntropy: 0 for single-char runs, exact ln k for uniform alphabets") {
    val corpus = Seq(
      (1L, "aaaa"),                 // H = 0
      (2L, "abab"),                 // uniform over 2 → ln 2
      (3L, "abcd"),                 // uniform over 4 → ln 4
      (4L, ""),                     // dropped (empty)
      (5L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val got = TextAnalysis.charEntropy(corpus, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    def lfp(x: Long) = math.floor(math.log(x.toDouble) * 1e6).toLong
    // H_fp = lfp(N) - floor((Σ c·lfp(c))/N)
    assert(got == Map(
      1L -> ((4L, lfp(4) - 4L * lfp(4) / 4L)),          // = 0
      2L -> ((4L, lfp(4) - 2L * 2L * lfp(2) / 4L)),     // ≈ ln 2
      3L -> ((4L, lfp(4)))))                            // lfp(1)=0 → ln 4
    assert(got(1L)._2 == 0L)
    assert(math.abs(got(2L)._2 - 693147L) <= 1)
  }

  test("charEntropy: native kernel equals the explode/hash-agg SQL shape") {
    // the fused per-row expression replaced the per-character explode —
    // pin bit-equality on the cases where the two could diverge: unicode
    // beyond ASCII, combining marks, surrogate pairs (one CODE POINT
    // each), lone surrogates, newlines/whitespace, long skewed runs
    val corpus = Seq(
      (1L, "héllo wörld é́"),              // accents + combining acute
      (2L, "日本語テキスト、これはテストです。"),  // CJK
      (3L, "emoji 😀😀 pair"), // surrogate pairs ×2
      (4L, "lone\ud800surrogate"),               // unpaired high surrogate
      (5L, "line1\nline2\ttab  spaces\r\n"),
      (6L, "a" * 1000 + "b"),                    // extreme skew
      (7L, (0 until 500).map(i => ('a' + i % 26).toChar).mkString))
      .toDF("doc_id", "text")
    val native = TextAnalysis.charEntropy(corpus, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val sql = TextAnalysis.charEntropySqlShape(corpus, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(native == sql)
  }

  test("char_entropy kernel: the empty string gives (0, 0) and NULL stays " +
      "NULL, interpreted and codegen alike") {
    import graft.functions.EntropyExpressions
    // RDD-backed frames: a local Seq would be folded at optimization
    // time by the interpreted path alone
    def frame(rows: (Long, String)*) =
      spark.sparkContext.parallelize(rows, 1).toDF("id", "text")
    def entropies(df: org.apache.spark.sql.DataFrame) =
      df.select(col("id"), EntropyExpressions.charEntropy(col("text")).as("e"))
        .collect().map(r => r.getLong(0) -> Option(r.getStruct(1))
          .map(e => (e.getLong(0), e.getLong(1)))).toMap
    val lnTwo = math.floor(math.log(2.0) * 1e6).toLong
    Seq("NO_CODEGEN" -> "false", "CODEGEN_ONLY" -> "true").foreach {
      case (mode, wholeStage) =>
        val keys = Seq("spark.sql.codegen.factoryMode", "spark.sql.codegen.wholeStage")
        val saved = keys.map(k => k -> spark.conf.getOption(k))
        spark.conf.set(keys(0), mode)
        spark.conf.set(keys(1), wholeStage)
        try {
          assert(entropies(frame((0L, ""), (1L, "ab"), (2L, null))) ==
            Map(0L -> Some((0L, 0L)), 1L -> Some((2L, lnTwo)), 2L -> None), mode)
          assert(entropies(frame((0L, null), (1L, null))) ==
            Map(0L -> None, 1L -> None), mode)
          assert(entropies(frame((0L, ""), (1L, ""))) ==
            Map(0L -> Some((0L, 0L)), 1L -> Some((0L, 0L))), mode)
        } finally saved.foreach {
          case (k, Some(v)) => spark.conf.set(k, v)
          case (k, None) => spark.conf.unset(k)
        }
    }
  }

  test("sourceTokenGini: 0 when uniform, → (n−1)/n when one source dominates") {
    val uniform = Seq((1L, "a", "x y"), (2L, "b", "x y"), (3L, "c", "x y"))
      .toDF("doc_id", "source", "text")
    val u = TextAnalysis.sourceTokenGini(uniform, "text", "source").head()
    assert((u.getLong(0), u.getLong(1), u.getLong(2)) == ((3L, 6L, 0L)))
    // 1-token sources vs a 998-token source:
    // (2·(1+2+3·998) − 4·1000)·10⁶ // (3·1000) = 1994·10⁶ // 3000 = 664666
    val skewed = Seq((1L, "a", "x"), (2L, "b", "x"),
      (3L, "c", Seq.fill(998)("x").mkString(" ")))
      .toDF("doc_id", "source", "text")
    val s = TextAnalysis.sourceTokenGini(skewed, "text", "source").head()
    assert(s.getLong(2) == 664666L)
  }

  test("assignShards: deterministic, null text excluded, total tokens conserved") {
    val corpus = Seq(
      (1L, "a b c"), (2L, null.asInstanceOf[String]), (3L, "d e f g h")
    ).toDF("doc_id", "text")
    val a = TextAnalysis.assignShards(corpus, "doc_id", "text", 4L).collect()
    val b = TextAnalysis.assignShards(corpus, "doc_id", "text", 4L).collect()
    assert(a.map(_.toString).sorted.sameElements(b.map(_.toString).sorted))
    val rows = TextAnalysis.assignShards(corpus, "doc_id", "text", 4L)
      .select("doc_id", "n_tokens").as[(Long, Long)].collect().toMap
    assert(rows == Map(1L -> 3L, 3L -> 5L)) // null-text doc 2 excluded
  }
}
