package graft.ext

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.functions.ColumnFns

class ExtSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"
  private def docs = spark.read.parquet(s"$sf/documents.parquet")
  private def embs = spark.read.parquet(s"$sf/embeddings.parquet")

  test("minhash+LSH finds exactly the pairs exact Jaccard finds (threshold 0.8)") {
    val exact = Dedup.jaccardPairs(docs, col("doc_id"), col("text"), 3, 0.8)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minhashPairs(docs, col("doc_id"), col("text"), 3, 0.8)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty) // the corpus has planted near-dups
    assert(lsh == exact)
  }

  test("cdcChunks: chunks reassemble the text, a prefix insertion " +
      "preserves most chunk hashes, short texts are one chunk") {
    import org.apache.spark.sql.functions.concat_ws
    val txt = docs.limit(20).select(col("doc_id"), col("text"))
    val ch = Dedup.cdcChunks(txt, col("doc_id"), col("text"))
    // lossless partition: per-doc chunk lengths sum to the text length
    val sums = ch.groupBy(col("id"))
      .agg(sum(col("chunk_len")).as("s"))
      .join(txt, col("id") === col("doc_id"))
      .collect()
    assert(sums.nonEmpty && sums.forall(r =>
      r.getAs[Long]("s") == r.getAs[String]("text").length.toLong))
    // shift robustness: ≥60% of distinct chunk hashes survive a
    // 7-char prefix insertion (fixed windows would keep ~0)
    val shifted = txt.select(col("doc_id"),
      concat_ws("", org.apache.spark.sql.functions.lit("PREFIX "),
        col("text")).as("text"))
    val a = ch.select(col("id"), col("chunk_md5")).distinct()
    val b = Dedup.cdcChunks(shifted, col("doc_id"), col("text"))
      .select(col("id"), col("chunk_md5")).distinct()
    val nA = a.count()
    val nShared = a.join(b, Seq("id", "chunk_md5")).count()
    assert(nShared.toDouble / nA > 0.6,
      s"CDC lost too much under a shift: $nShared of $nA")
    // short text (< window) is exactly one whole-text chunk
    val one = Dedup.cdcChunks(
      Seq((1L, "tiny")).toDF("doc_id", "text"),
      col("doc_id"), col("text")).collect()
    assert(one.length == 1 && one(0).getAs[Int]("chunk_len") == 4)
    // empty text is total: exactly one EMPTY chunk (md5("")), so two
    // empty docs dedup against each other and the q238 inner-join
    // census never drops a doc the oracle keeps (ADVICE r16)
    val empty = Dedup.cdcChunks(
      Seq((1L, ""), (2L, "")).toDF("doc_id", "text"),
      col("doc_id"), col("text")).collect()
    assert(empty.length == 2 && empty.forall(r =>
      r.getAs[Int]("chunk_len") == 0 &&
        r.getAs[String]("chunk_md5") ==
          "d41d8cd98f00b204e9800998ecf8427e"))
  }

  test("cdcChunkArrayBounded: lossless, every chunk ≤ max, non-final " +
      "non-forced chunks ≥ min, forced cuts at exact max stride") {
    val txt = docs.limit(30).select(col("doc_id"), col("text"))
    val ch = txt.select(col("doc_id"),
      posexplode(Dedup.cdcChunkArrayBounded(col("text")))
        .as(Seq("idx", "c")))
      .select(col("doc_id"), col("idx"), length(col("c")).as("l"))
      .collect()
    // lossless partition
    val sums = ch.groupBy(_.getAs[Long]("doc_id"))
      .map { case (d, rs) => d -> rs.map(_.getAs[Int]("l")).sum }
    val lens = txt.collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text").length)
      .toMap
    assert(sums.nonEmpty && sums.forall { case (d, s) => s == lens(d) })
    // bounds: all ≤ 32; every chunk except a doc's LAST is ≥ 8 OR
    // exactly 32 (a forced cut's remainder merges forward, so a
    // sub-min chunk can only be final)
    val byDoc = ch.groupBy(_.getAs[Long]("doc_id"))
    assert(ch.forall(_.getAs[Int]("l") <= 32))
    byDoc.foreach { case (_, rs) =>
      val sorted = rs.sortBy(_.getAs[Int]("idx"))
      sorted.init.foreach(r => assert(r.getAs[Int]("l") >= 8))
    }
    // a band-free run (uniform text) takes forced cuts at exactly 32
    val forced = Dedup.cdcChunkArrayBounded(lit("a" * 100))
    val one = spark.range(1).select(forced.as("cs")).collect()(0)
      .getSeq[String](0)
    assert(one.map(_.length) == Seq(32, 32, 32, 4))
    // degenerate arms: empty text = one empty chunk; short text = one
    val e = spark.range(1)
      .select(Dedup.cdcChunkArrayBounded(lit("")).as("cs"))
      .collect()(0).getSeq[String](0)
    assert(e == Seq(""))
  }

  test("cdc native kernel: chunk-for-chunk parity with the legacy " +
      "higher-order-function fold, incl. multi-byte chars") {
    import org.apache.spark.sql.Column
    // the pre-round-17 HOF shapes, kept verbatim as the reference
    // implementations — the native kernels must be indistinguishable
    def legacyUnbounded(text: Column, w: Int = 16): Column = {
      val t = text
      val len = length(t)
      val ends = concat(
        filter(
          when(len >= w, sequence(lit(w), len))
            .otherwise(array().cast("array<int>")),
          i => substring(md5(t.substr(i - (w - 1), lit(w))), 1, 1)
            === "0"),
        array(len))
      val chunks = aggregate(
        ends,
        struct(lit(0).as("prev"),
          array().cast("array<string>").as("acc")),
        (st, e) => when(e === st.getField("prev"), st).otherwise(
          struct(e.as("prev"),
            concat(st.getField("acc"),
              array(t.substr(st.getField("prev") + 1,
                e - st.getField("prev")))).as("acc"))),
        st => st.getField("acc"))
      when(len === 0, array(lit(""))).otherwise(chunks)
    }
    def legacyBounded(text: Column, w: Int = 16, minLen: Int = 8,
                      maxLen: Int = 32): Column = {
      val t = text
      val len = length(t)
      val ends = concat(
        filter(
          when(len >= w, sequence(lit(w), len))
            .otherwise(array().cast("array<int>")),
          i => substring(md5(t.substr(i - (w - 1), lit(w))), 1, 1)
            === "0"),
        array(len))
      val chunks = aggregate(
        ends,
        struct(lit(0).as("prev"),
          array().cast("array<string>").as("acc")),
        (st, e) => {
          val prev = st.getField("prev")
          val d = e - prev
          val f = greatest(lit(0),
            floor((d - 1).cast("double") / lit(maxLen)).cast("int"))
          val base = prev + f * maxLen
          val rem = d - f * maxLen
          val isFinal = e === len
          val tailEmit = (isFinal && rem > 0) ||
            (!isFinal && rem >= minLen)
          val forced = when(f >= 1,
            transform(sequence(lit(1), f),
              i => t.substr(prev + (i - 1) * maxLen + 1, lit(maxLen))))
            .otherwise(array().cast("array<string>"))
          val newPrev = when(isFinal || rem >= minLen, e).otherwise(base)
          when(e === prev, st).otherwise(
            struct(newPrev.as("prev"),
              concat(st.getField("acc"), forced,
                when(tailEmit, array(t.substr(base + 1, rem)))
                  .otherwise(array().cast("array<string>"))).as("acc")))
        },
        st => st.getField("acc"))
      when(len === 0, array(lit(""))).otherwise(chunks)
    }
    // corpus: real docs + hostile arms — empty, sub-window, multi-byte
    // (2- and 3-byte UTF-8, so char offsets ≠ byte offsets), band-free
    // uniform runs (forces max-stride cuts), and a long mixed text
    val hostile = Seq(
      (9001L, ""), (9002L, "tiny"), (9003L, "a" * 100),
      (9004L, "héllo wörld ünïcode ¢¢¢ " * 20),
      (9005L, "日本語のテキストです。" * 30),
      (9006L, ("mixed ascii と 日本語 and ü " * 40) + "tail"))
      .toDF("doc_id", "text")
    val corpus = docs.limit(50).select(col("doc_id"), col("text"))
      .unionAll(hostile)
    val both = corpus.select(col("doc_id"),
      Dedup.cdcChunkArray(col("text")).as("native_u"),
      legacyUnbounded(col("text")).as("legacy_u"),
      Dedup.cdcChunkArrayBounded(col("text")).as("native_b"),
      legacyBounded(col("text")).as("legacy_b"))
    val mismatch = both.where(
      not(col("native_u") <=> col("legacy_u")) ||
        not(col("native_b") <=> col("legacy_b")))
    assert(mismatch.isEmpty,
      s"native/legacy cdc divergence:\n${mismatch.collect().mkString("\n")}")
  }

  test("minhashBucketAudit: the guard fires on a boilerplate corpus " +
      "and stays quiet on a well-separated one") {
    // boilerplate corpus — the q231 first-cut shape: every doc shares
    // a long global template, so cross-doc Jaccard sits near the LSH
    // operating point and the candidate set goes quadratic
    val template = (0 until 40).map(i => s"common$i").mkString(" ")
    val boiler = (0L until 200L).map(i =>
      (i, s"$template unique${i}a unique${i}b")).toDF("id", "text")
    val fired = Dedup.minhashBucketAudit(boiler, col("id"), col("text"),
        n = 3).collect()
    assert(fired.nonEmpty, "boilerplate corpus must surface hot buckets")
    val cpd = fired.head.getAs[Double]("candidates_per_doc")
    assert(fired.forall(_.getAs[Boolean]("explosive")) && cpd > 8.0,
      s"guard must fire on the boilerplate corpus (got $cpd cand/doc)")
    // and the census is consistent: total ≥ the top bucket's contrib
    assert(BigInt(fired.head.getAs[String]("total_candidates")) >=
      BigInt(fired.head.getAs[String]("contrib")))
    // well-separated corpus: disjoint vocabularies per doc — any stray
    // collision stays far under the threshold
    val clean = (0L until 200L).map(i =>
      (i, (0 until 12).map(j => s"w${i}_$j").mkString(" ")))
      .toDF("id", "text")
    val quiet = Dedup.minhashBucketAudit(clean, col("id"), col("text"),
        n = 3).collect()
    assert(quiet.isEmpty || quiet.forall(r =>
      !r.getAs[Boolean]("explosive")),
      "guard must stay quiet on the separated corpus")
    // pre-flight agrees with reality: the boilerplate corpus' audited
    // candidate mass is the quadratic regime the q231 lesson warns
    // about (≳ n²/8 with these bands), not a mild bump
    assert(cpd > 200.0 / 8.0)
  }

  test("lshOperatingPoint: recommends the banding that passes both " +
      "recall and the candidate guard, and the recommendation passes " +
      "its own audit") {
    // moderately-similar corpus (cross-doc Jaccard ≈ 0.55-0.6): the
    // default 128/64 banding collides nearly every pair (explosive),
    // while longer rows separate the 0.95-target near-dups from the
    // background — the regime where retuning (not boilerplate
    // stripping) is the right fix
    val template = (0 until 30).map(i => s"shared$i").mkString(" ")
    val uniq = (i: Long) =>
      (0 until 10).map(j => s"only${i}_$j").mkString(" ")
    val corpus = (0L until 200L).map(i => (i, s"$template ${uniq(i)}"))
      .toDF("id", "text")
    val rows = Dedup.lshOperatingPoint(corpus, col("id"), col("text"),
      n = 3, numHashes = 128, targetJaccard = 0.95).collect()
    // one row per divisor of 128, exactly one chosen
    assert(rows.length == 8)
    assert(rows.count(_.getAs[Boolean]("chosen")) == 1)
    val chosen = rows.find(_.getAs[Boolean]("chosen")).get
    assert(chosen.getAs[Boolean]("passes_recall") &&
      chosen.getAs[Boolean]("passes_guard"))
    // analytic: bands ∈ {8..128} pass recall at j=0.95; candidate mass
    // grows with bands, so the min-candidate recall-passing point is 8
    assert(chosen.getAs[Int]("bands") == 8)
    // the default operating point is explosive on this corpus
    val b64 = rows.find(_.getAs[Int]("bands") == 64).get
    assert(!b64.getAs[Boolean]("passes_guard") &&
      b64.getAs[Double]("candidates_per_doc") > 8.0)
    // the recommended point passes its own audit (VERDICT r16 item 7)
    val audit = Dedup.minhashBucketAudit(corpus, col("id"), col("text"),
      n = 3, numHashes = 128,
      bands = chosen.getAs[Int]("bands")).collect()
    assert(audit.isEmpty || audit.forall(r =>
      !r.getAs[Boolean]("explosive")),
      "the chosen banding must not trip the audit it was derived from")
    // recall column is the analytic formula: r=1 ⇒ certainty
    val b128 = rows.find(_.getAs[Int]("bands") == 128).get
    assert(math.abs(b128.getAs[Double]("recall_at_target") - 1.0) < 1e-9)
  }

  test("simhash distance 0 for identical docs; near-dup pairs overlap jaccard pairs") {
    val twice = docs.limit(5).select(col("doc_id"), col("text"))
      .union(docs.limit(5).select(col("doc_id") + 100000, col("text")))
    val pairs = Dedup.simhashPairs(twice, col("doc_id"), col("text"), 0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    // each doc and its copy are hamming-0 pairs
    assert(pairs.count { case (a, b, d) => b - a == 100000 && d == 0 } == 5)
  }

  test("simhash of planted near-dups is within small hamming distance") {
    val jacc = Dedup.jaccardPairs(docs, col("doc_id"), col("text"), 3, 0.8)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    val sigs = docs.select(col("doc_id"),
      Dedup.simhash64(col("text")).as("sig")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val dists = jacc.map { case (a, b) =>
      java.lang.Long.bitCount(sigs(a) ^ sigs(b)) }
    assert(dists.nonEmpty && dists.forall(_ <= 12))
  }

  test("IVF multi-probe recall beats single-probe and clears the floor") {
    val q = embs.filter(col("vec_id") < 50)
    val bf = Similarity.bruteForceTopK(q, embs, 5).select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def recallAt(radius: Int) = {
      val ivf = Similarity.ivfTopK(q, embs, 5, bits = 4, probeRadius = radius)
        .select("query_id", "neighbor_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      ivf.intersect(bf).size.toDouble / bf.size
    }
    val r0 = recallAt(0); val r1 = recallAt(1); val r2 = recallAt(2)
    assert(r1 > r0 && r2 > r1, s"recall not monotone: $r0 $r1 $r2")
    assert(r1 >= 0.3, s"radius-1 IVF recall $r1 too low")
    assert(r2 >= 0.6, s"radius-2 IVF recall $r2 too low")
  }

  test("k-means IVF beats the sign-bit quantizer at similar probe budget") {
    val q = embs.filter(col("vec_id") < 50)
    val bf = Similarity.bruteForceTopK(q, embs, 5).select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def recall(df: org.apache.spark.sql.DataFrame) = {
      val got = df.select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      got.intersect(bf).size.toDouble / bf.size
    }
    // sign-bit: 16 cells, radius-1 probing = 5/16 of the corpus scanned;
    // k-means: 16 cells, 5 probes = a comparable scan fraction
    val signBit = recall(Similarity.ivfTopK(q, embs, 5, bits = 4, probeRadius = 1))
    val kmeans = recall(Similarity.ivfKmeansTopK(q, embs, 5, nCells = 16, probes = 5))
    assert(kmeans >= signBit,
      s"kmeans recall $kmeans below sign-bit recall $signBit")
    assert(kmeans >= 0.5, s"kmeans recall $kmeans too low")
  }

  test("frozen-model apply halves clear the recall floor on out-of-sample data") {
    // FrozenModels was trained on sf0.01; this corpus is sf0.001 — the
    // apply halves must still retrieve (train once, serve anywhere)
    val q = embs.filter(col("vec_id") < 50)
    val bf = Similarity.bruteForceTopK(q, embs, 5).select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def recall(df: org.apache.spark.sql.DataFrame) = {
      val got = df.select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      got.intersect(bf).size.toDouble / bf.size
    }
    val ivf = recall(Similarity.ivfKmeansApply(q, embs, 5,
      FrozenModels.ivfCentroids, probes = 3))
    assert(ivf >= 0.4, s"frozen IVF apply recall $ivf too low")
    // 8×8 frozen codebooks are a 4× coarser quantizer than pqTopK's
    // default 16×16 (measured 0.48 here vs 0.7+ in the test below)
    val pq = recall(Similarity.pqApply(q, embs, 5,
      FrozenModels.pqCodebooks, rerank = 8))
    assert(pq >= 0.4, s"frozen PQ apply recall $pq too low")
  }

  test("PQ ADC + exact re-rank: recall clears the floor and rises with the pool") {
    val q = embs.filter(col("vec_id") < 50)
    val bf = Similarity.bruteForceTopK(q, embs, 5).select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def recall(rerank: Int) = {
      val got = Similarity.pqTopK(q, embs, 5, rerank = rerank)
        .select("query_id", "neighbor_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      got.intersect(bf).size.toDouble / bf.size
    }
    val r2 = recall(2); val r8 = recall(8)
    assert(r8 >= r2, s"recall not monotone in rerank pool: $r2 -> $r8")
    assert(r2 >= 0.5, s"PQ recall@5 (rerank=2) $r2 too low")
    assert(r8 >= 0.7, s"PQ recall@5 (rerank=8) $r8 too low")
  }

  test("PQ results are invariant to input partitioning (integer ADC + md5 training)") {
    val q = embs.filter(col("vec_id") < 20)
    def rows(qp: Int, cp: Int) =
      Similarity.pqTopK(q.repartition(qp), embs.repartition(cp), 5)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
          r.getDouble(3))).sortBy(t => (t._1, t._2)).toSeq
    assert(rows(1, 2) == rows(7, 13))
  }

  test("cosine LSH pairs: recall 1.0 vs brute force at threshold 0.4") {
    import graft.functions.SketchFns
    // ground truth: all pairs with exact quantized cosine >= 0.4
    val e = embs.select(col("vec_id"), col("embedding"))
    val truth = e.as("a").crossJoin(e.as("b"))
      .filter(col("a.vec_id") < col("b.vec_id"))
      .withColumn("cosine",
        SketchFns.quantized_cosine(col("a.embedding"), col("b.embedding")))
      .filter(col("cosine") >= 0.4)
      .select(col("a.vec_id"), col("b.vec_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = Similarity.cosineNearDupPairs(embs, threshold = 0.4)
      .select("id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(truth.nonEmpty)
    // exact verify => no false positives; banded LSH => (measured) no misses
    assert(got == truth,
      s"missed=${(truth -- got).size} extra=${(got -- truth).size} of ${truth.size}")
  }

  test("semantic dedup: sound drops, exact within-cell recall, kmeans >= sign-bit") {
    import graft.functions.SketchFns
    // global ground truth at the same threshold as q43/q157: v SHOULD drop
    // iff some smaller-id vector has cosine >= 0.4 with it anywhere
    val e = embs.select(col("vec_id"), col("embedding"))
    val truePairs = e.as("a").crossJoin(e.as("b"))
      .filter(col("a.vec_id") < col("b.vec_id"))
      .withColumn("cosine",
        SketchFns.quantized_cosine(col("a.embedding"), col("b.embedding")))
      .filter(col("cosine") >= 0.4)
      .select(col("a.vec_id"), col("b.vec_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val shouldDrop = truePairs.map(_._2)
    def drops(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      df.filter(!col("is_kept"))
        .select(col("vec_id"), col("canonical_id"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val sign = drops(Similarity.semanticDedup(embs, 0.4,
      Similarity.ivfCell(col("embedding"), bits = 4).cast("int")))
    val km = drops(Similarity.semanticDedupKmeans(embs, 0.4, nCells = 16))
    assert(shouldDrop.nonEmpty)
    // soundness: every drop is attributed to a TRUE smaller-id near-dup —
    // cell-locality can only miss pairs, never invent them
    for (m <- Seq(sign, km); (v, c) <- m) {
      assert(c < v, s"canonical $c not an elder of $v")
      assert(truePairs.contains((c, v)), s"false drop $v attributed to $c")
    }
    // within-cell completeness: restricted to pairs sharing a sign-bit
    // cell, the drop set is EXACT (the kernel misses nothing it can see)
    val cellOf = e.withColumn("cell",
        Similarity.ivfCell(col("embedding"), bits = 4))
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    val visibleDrop = truePairs
      .filter { case (a, b) => cellOf(a) == cellOf(b) }.map(_._2)
    assert(sign.keySet == visibleDrop,
      s"cell-visible drops mismatch: missed=${(visibleDrop -- sign.keySet).size} " +
        s"extra=${(sign.keySet -- visibleDrop).size}")
    // data-adaptive cells co-locate at least as many true near-dups as
    // axis signs at the same cell count (the q48-vs-q31 relation)
    val signRecall = sign.size.toDouble / shouldDrop.size
    val kmRecall = km.size.toDouble / shouldDrop.size
    assert(kmRecall >= signRecall,
      s"kmeans cells recall $kmRecall below sign-bit $signRecall")
  }

  test("cosine LSH dense and sparse strategies produce identical pairs") {
    // same logical op, two physical plans — results must be bit-equal
    // at the same banding, for both a narrow and a wide band width, and
    // including mixed-dimension vectors (min-length prefix semantics)
    val truncated = embs.limit(3)
      .select(col("vec_id") + 100000, slice(col("embedding"), 1, 32))
      .toDF("vec_id", "embedding")
    val corpus = embs.select(col("vec_id"), col("embedding"))
      .unionByName(truncated)
    for (bb <- Seq(4, 8)) {
      val dense = Similarity.denseNearDupPairs(corpus, 0.4, bb)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val sparse = Similarity.sparseNearDupPairs(corpus, 0.4, bb)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(dense == sparse, s"bandBits=$bb: strategies diverge")
      assert(dense.nonEmpty)
    }
  }

  test("connected-component loops fail loudly when iterations run out") {
    val perm = new scala.util.Random(5).shuffle((0L to 120L).toVector)
    val path = perm.sliding(2).map(p => (p(0), p(1))).toSeq
      .toDF("id_a", "id_b")
    intercept[IllegalStateException] {
      Dedup.clusters(path, maxIterations = 3).collect()
    }
    intercept[IllegalStateException] {
      Dedup.clustersBigStar(path, maxIterations = 1).collect()
    }
  }

  test("minhash signature agreement estimates jaccard (sketch quality)") {
    // for the planted near-dup pairs, the fraction of agreeing signature
    // positions must approximate the true jaccard within sketch error
    // (128 hashes -> stderr ~ sqrt(j(1-j)/128) ~ 0.035 at j~0.85)
    val sigs = docs.select(col("doc_id"),
      graft.functions.SketchFns.minhash_signature(
        graft.functions.SketchFns.hashed_shingles(col("text"), 3), 128).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val pairs = Dedup.jaccardPairs(docs, col("doc_id"), col("text"), 3, 0.8)
      .select("id_a", "id_b", "jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pairs.nonEmpty)
    pairs.foreach { case (a, b, j) =>
      val agree = sigs(a).zip(sigs(b)).count { case (x, y) => x == y } / 128.0
      assert(math.abs(agree - j) < 0.15,
        s"pair ($a,$b): signature agreement $agree vs jaccard $j")
    }
  }

  test("jaccard df cap kills planted hot-shingle candidate inflation, keeps true pairs") {
    import org.scalacheck.{Gen, rng}
    val word = Gen.choose(0, 499).map(i => s"w$i")
    def randDoc(seed: Long): String =
      Gen.listOfN(30, word)
        .apply(Gen.Parameters.default, rng.Seed(seed)).get.mkString(" ")
    // 40 distinct docs all ending in the same boilerplate phrase (one hot
    // shingle with df=42), plus one planted identical pair
    val planted = randDoc(999L) + " common boilerplate footer"
    val corpus = ((0 until 40).map(i =>
        (i.toLong, randDoc(i.toLong) + " common boilerplate footer"))
      ++ Seq((100L, planted), (101L, planted))).toDF("doc_id", "text")
    // threshold 0 turns every candidate pair into an output row, making
    // the inverted index's fan-out directly observable
    val uncapped = Dedup.jaccardPairs(corpus, col("doc_id"), col("text"),
      3, 0.0, maxDocFreq = Int.MaxValue).count()
    val capped = Dedup.jaccardPairs(corpus, col("doc_id"), col("text"),
      3, 0.0, maxDocFreq = 8).count()
    // uncapped: the shared boilerplate shingle alone pairs all 42 docs
    assert(uncapped >= 42L * 41 / 2, s"expected all-pairs inflation, got $uncapped")
    assert(capped < 100, s"df cap failed to prune hot-shingle candidates: $capped")
    // the true near-dup pair survives the cap at the real threshold, with
    // its intersection reduced by exactly the one capped shingle
    val pair = Dedup.jaccardPairs(corpus, col("doc_id"), col("text"),
        3, 0.8, maxDocFreq = 8)
      .filter(col("id_a") === 100 && col("id_b") === 101).collect()
    assert(pair.length == 1)
    val full = Dedup.jaccardPairs(corpus, col("doc_id"), col("text"),
        3, 0.8, maxDocFreq = Int.MaxValue)
      .filter(col("id_a") === 100 && col("id_b") === 101).collect()
    assert(pair.head.getAs[Long]("intersection")
      == full.head.getAs[Long]("intersection") - 1)
  }

  test("prefix-filter jaccard join reproduces the uncapped inverted-index result exactly") {
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getInt(3), r.getInt(4), r.getDouble(5))).toSet
    // the real corpus: planted near-dups, organic sizes
    val exact = rows(Dedup.jaccardPairs(docs, col("doc_id"), col("text"), 3, 0.8))
    assert(exact.nonEmpty)
    assert(rows(Dedup.prefixJaccardPairs(
      docs, col("doc_id"), col("text"), 3, 0.8)) == exact)
    // adversarial: a hot boilerplate shingle (df 42) that inflates the
    // inverted index must not cost q160 a single true pair, at a
    // threshold low enough that the length filter actually prunes
    import org.scalacheck.{Gen, rng}
    val word = Gen.choose(0, 499).map(i => s"w$i")
    def randDoc(seed: Long): String =
      Gen.listOfN(30, word)
        .apply(Gen.Parameters.default, rng.Seed(seed)).get.mkString(" ")
    val planted = randDoc(999L) + " common boilerplate footer"
    val corpus = ((0 until 40).map(i =>
        (i.toLong, randDoc(i.toLong) + " common boilerplate footer"))
      ++ Seq((100L, planted), (101L, planted))).toDF("doc_id", "text")
    val e2 = rows(Dedup.jaccardPairs(corpus, col("doc_id"), col("text"), 3, 0.5))
    assert(rows(Dedup.prefixJaccardPairs(
      corpus, col("doc_id"), col("text"), 3, 0.5)) == e2)
    // and the prefix index it joined was smaller than the full one
    val full = docs.select(explode(
      graft.functions.SketchFns.hashed_shingles(col("text"), 3))).count()
    val pref = docs.select(col("doc_id"),
        sort_array(graft.functions.SketchFns.hashed_shingles(col("text"), 3)).as("sh"))
      .select(explode(org.apache.spark.sql.functions.slice(col("sh"), lit(1),
        (size(col("sh")).cast("long")
          - ceil(size(col("sh")) * lit(0.8) - lit(1e-9)) + lit(1L)).cast("int"))))
      .count()
    assert(pref.toDouble / full < 0.3, s"prefix index not small: $pref / $full")
  }

  test("contrastive triplets: positive is the in-cell argmax, negatives the hardest sub-threshold") {
    val cell = Similarity.ivfCell(col("embedding"), bits = 4).cast("int")
    val got = Similarity.contrastiveTriplets(embs, threshold = 0.4,
        negatives = 2, cell)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getLong(3), r.getInt(4), r.getDouble(5)))
    assert(got.nonEmpty)
    // in-memory reference over the same cells and exact kernel cosine
    val rows = embs.select(col("vec_id"), col("embedding"), cell.as("c"))
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray, r.getInt(2)))
    val byCell = rows.groupBy(_._3)
    def cos(a: Array[Float], b: Array[Float]) =
      graft.functions.SketchKernels.quantizedCosine(a, b)
    val expect = rows.toSeq.flatMap { case (id, v, c) =>
      val cands = byCell(c).toSeq.filter(_._1 != id)
        .map { case (cid, cv, _) => (cid, cos(v, cv)) }
      val posC = cands.filter(_._2 >= 0.4)
      if (posC.isEmpty) Seq.empty
      else {
        val p = posC.minBy { case (cid, s) => (-s, cid) }
        cands.filter(_._2 < 0.4).sortBy { case (cid, s) => (-s, cid) }
          .take(2).zipWithIndex.map { case ((nid, ns), i) =>
            (id, p._1, p._2, nid, i + 1, ns) }
      }
    }.toSet
    assert(got.toSet == expect)
    // every triplet is properly ordered: positive above threshold, above
    // its negatives, negatives below threshold
    assert(got.forall { case (_, _, pc, _, _, nc) =>
      pc >= 0.4 && nc < 0.4 && pc > nc })
  }

  test("large-star/small-star clusters match union-find on random graphs and deep paths") {
    import org.scalacheck.{Gen, rng}
    def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        val p = parent.getOrElse(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      // path-compress to the component min (union by min above)
      val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
      nodes.map(x => x -> find(x)).toMap
    }
    def check(edges: Seq[(Long, Long)], label: String): Unit = {
      val expected = unionFind(edges)
      val got = Dedup.clustersBigStar(edges.toDF("id_a", "id_b"))
        .collect()
        .map(r => r.getAs[Long]("doc_id") ->
          (r.getAs[Long]("cluster_id"), r.getAs[Long]("cluster_size")))
        .toMap
      assert(got.keySet == expected.keySet, s"$label: node sets differ")
      expected.foreach { case (node, root) =>
        assert(got(node)._1 == root,
          s"$label: node $node got ${got(node)._1}, want $root")
      }
      val sizes = expected.groupBy(_._2).view.mapValues(_.size).toMap
      got.foreach { case (node, (root, size)) =>
        assert(size == sizes(root), s"$label: size mismatch at $node")
      }
    }
    // deep path: 400 hops with shuffled ids — label propagation would
    // need ~400 rounds, the star rewrite converges in O(log²)
    val perm = new scala.util.Random(11).shuffle((0L to 400L).toVector)
    check(perm.sliding(2).map(p => (p(0), p(1))).toSeq, "path-400")
    // random graphs (ScalaCheck Gen sampling)
    val edgeGen = Gen.listOfN(150,
      Gen.zip(Gen.choose(0L, 99L), Gen.choose(0L, 99L)))
    (1 to 3).foreach { s =>
      val edges = edgeGen(Gen.Parameters.default, rng.Seed(s.toLong)).get
        .filter(e => e._1 != e._2)
      check(edges, s"random-$s")
    }
    // and both formulations agree on the real near-dup pairs
    val pairs = Dedup.jaccardPairs(docs, col("doc_id"), col("text"), 3, 0.8)
      .select("id_a", "id_b")
    val a = Dedup.clusters(pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3))).toSet
    val b = Dedup.clustersBigStar(pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3))).toSet
    assert(a == b)
  }

  test("cosine of a vector with itself is 1.0 (quantized path)") {
    val self = embs.limit(10).select(
      Similarity.cosineQ(Similarity.quantize(col("embedding")),
                         Similarity.quantize(col("embedding"))).as("c"))
      .collect().map(_.getDouble(0))
    assert(self.forall(c => math.abs(c - 1.0) < 1e-12))
  }

  test("poly_hash matches the JVM reference implementation (golden)") {
    def ref(s: String): Long = {
      var h = 0L
      s.getBytes("UTF-8").foreach(b => h = (h * 31 + (b & 0xff)) % 1000000007L)
      h
    }
    val rows = Seq("hello", "", "the fast key order", "ünïcödé").toDF("t")
      .select(col("t"), ColumnFns.poly_hash(col("t")).as("h")).collect()
    rows.foreach(r => assert(r.getLong(1) == ref(r.getString(0))))
    assert(ref("hello") == 99162322L) // pinned golden
  }

  test("winnow fingerprints: deterministic, non-empty, and shared for identical text") {
    val fp = Seq("the quick brown fox jumps over the lazy dog",
                 "the quick brown fox jumps over the lazy dog",
                 "a completely different sentence here").toDF("t")
      .select(ColumnFns.winnow(col("t"), 8, 4).as("fp"))
      .collect().map(_.getSeq[Long](0))
    assert(fp(0) == fp(1))
    assert(fp(0) != fp(2))
    assert(fp(0).nonEmpty)
    // short strings (< k) fingerprint to empty, not error
    val short = Seq("abc").toDF("t")
      .select(ColumnFns.winnow(col("t"), 8, 4).as("fp"))
      .collect().head.getSeq[Long](0)
    assert(short.isEmpty)
  }

  test("repetition metrics: golden values and threshold verdicts") {
    val df = Seq(
      (1L, "a b a b a b"),              // "a b"×3 of 5 two-grams; all 4 three-grams duplicated
      (2L, "one two three four five"),  // no repetition at all
      (3L, "x"),                        // too short for any n-gram
      (4L, "")                          // empty text
    ).toDF("doc_id", "text")
    val out = TextAnalysis.withRepetitionStats(df, col("text"))
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(math.abs(out(1L).getAs[Double]("top_2gram_frac") - 3.0 / 5) < 1e-15)
    assert(out(1L).getAs[Double]("dup_3gram_frac") == 1.0)
    assert(out(1L).getAs[Boolean]("is_repetitive"))
    assert(out(2L).getAs[Double]("top_2gram_frac") == 0.0)
    assert(out(2L).getAs[Double]("dup_3gram_frac") == 0.0)
    assert(!out(2L).getAs[Boolean]("is_repetitive"))
    assert(out(3L).getAs[Double]("top_2gram_frac") == 0.0)
    assert(out(4L).getAs[Double]("dup_3gram_frac") == 0.0)
    assert(!out(4L).getAs[Boolean]("is_repetitive"))
    assert(out(1L).getAs[Double]("distinct_word_ratio") == 2.0 / 6)
  }

  test("lang id predicts the marker-dominant language") {
    val df = Seq(
      ("d1", "the fast slow the fast"),      // en markers
      ("d2", "spark query scan spark")).toDF("id", "text")
    val out = TextAnalysis.withLangId(df, col("text"))
      .select("id", "predicted_lang").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(out("d1") == "en")
    assert(out("d2") == "zh")
  }

  test("multimodal stub decoder: deterministic dims, failure rows not task failures") {
    val media = Seq(
      Multimodal.MediaRecord(1L, "image/png", Array[Byte](1, 2, 3, 4, 5)),
      Multimodal.MediaRecord(2L, "video/mp4", Array.fill[Byte](100)(7)))
      .toDS()
    val meta = Multimodal.extractMeta(media, new Multimodal.StubDecoder)
      .collect().map(m => m.media_id -> m).toMap
    assert(meta(1L).width == 64 + (5 % 16) * 32 && meta(1L).nFrames == 1)
    assert(meta(2L).nFrames == 1 + 100 % 240)
    assert(meta.values.forall(_.ok))
    val failing = new Multimodal.MediaDecoder {
      def decode(m: String, b: Array[Byte]) = throw new RuntimeException("codec boom")
    }
    val bad = Multimodal.extractMeta(media, failing).collect()
    assert(bad.forall(m => !m.ok && m.error.contains("codec boom")))
    // sha/byteLen still extracted on decode failure
    assert(bad.forall(_.byteLen > 0))
  }

  test("frame sample plan strides deterministically") {
    val meta = Seq((1L, 10), (2L, 1)).toDF("media_id", "nFrames")
    val plan = Multimodal.frameSamplePlan(meta, targetFrames = 4)
      .collect().map(r => (r.getLong(0), r.getInt(1)))
    assert(plan.map(_._1).distinct.toSeq == Seq(1L))    // single-frame skipped
    assert(plan.map(_._2).toSeq == Seq(0, 3, 6, 9))     // stride ceil(10/4)=3
  }

  test("random_project kernel matches the reference formula; JL distortion bounded") {
    // parity: the native kernel must equal a direct JVM evaluation of
    // the same quantize + ±1-sign arithmetic (the contract the DuckDB
    // oracle also evaluates)
    val rnd = new scala.util.Random(7)
    val vecs = (0 until 24).map(i =>
      i.toLong -> Array.fill(64)(rnd.nextFloat() * 2f - 1f))
    def refProject(v: Array[Float]): Array[Long] = {
      val q = v.map(x => math.floor(x.toDouble * 10000d + 0.5d).toLong)
      Array.tabulate(16)(j => q.indices.map { i =>
        if ((i * 2654435761L + j * 40503L) % 1009L % 2L == 0L) q(i)
        else -q(i)
      }.sum)
    }
    val got = vecs.toDF("vec_id", "embedding")
      .select(col("vec_id"),
        graft.functions.SketchFns.random_project(col("embedding"), 16)
          .as("y"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toArray).toMap
    vecs.foreach { case (id, v) =>
      assert(got(id).sameElements(refProject(v)), s"mismatch for vec $id")
    }
    // JL sanity on the planted data: projected squared distances (scaled
    // by 1/k) approximate original quantized squared distances within a
    // loose factor for most pairs — the property the operator exists for
    def qz(v: Array[Float]) =
      v.map(x => math.floor(x.toDouble * 10000d + 0.5d).toLong)
    val ratios = for {
      a <- vecs.take(8); b <- vecs.take(8) if a._1 < b._1
    } yield {
      val d0 = qz(a._2).zip(qz(b._2)).map { case (x, y) =>
        val d = (x - y).toDouble; d * d }.sum
      val d1 = got(a._1).zip(got(b._1)).map { case (x, y) =>
        val d = (x - y).toDouble; d * d }.sum / 16d
      d1 / d0
    }
    val within = ratios.count(r => r > 0.4 && r < 2.5)
    assert(within >= ratios.size * 3 / 4,
      s"JL distortion off: ${ratios.sorted.mkString(", ")}")
  }
}
