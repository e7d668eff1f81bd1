package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.ops.{ClusterOps, DedupOps, MultimodalOps, TextOps, VectorOps}

/** Behavior specs for the LLM-pipeline ops (the oracle gate covers exact
  * cross-engine equality; these cover semantics the oracle can't express).
  */
class OpsSpec extends SparkSpecBase {
  import spark.implicits._

  private def docsDF(rows: (Long, String)*) =
    rows.toDF("doc_id", "text")

  test("exact dedup maps every duplicate to the smallest doc_id") {
    val d = docsDF(
      1L -> "Hello World",
      2L -> "  hello world ",   // same after lower+trim
      3L -> "something else",
      4L -> "HELLO WORLD")
    val out = DedupOps.exact(d).orderBy("doc_id").collect()
    assert(out.map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq ===
      Seq((1L, 1L, 0), (2L, 1L, 1), (3L, 3L, 0), (4L, 1L, 1)))
  }

  test("jaccard pairs: identical docs score 1.0, disjoint docs don't pair") {
    val d = docsDF(
      1L -> "a b c d e f",
      2L -> "a b c d e f",
      3L -> "q r s t u v")
    val out = DedupOps.jaccardPairs(d, 0.5).collect()
    assert(out.length === 1)
    assert(out(0).getLong(0) === 1L && out(0).getLong(1) === 2L)
    assert(out(0).getDouble(2) === 1.0)
  }

  test("prefix-filtered jaccard equals brute-force all-pairs at the threshold") {
    val docs = Tables.load(spark, sfDir, "documents")
    val sets = docs
      .selectExpr("doc_id", s"${graft.ops.TextOps.wordsExpr("text")} as w")
      .selectExpr("doc_id", s"${graft.ops.TextOps.shinglesExpr("w")} as sh_txt")
      .selectExpr("doc_id", s"transform(sh_txt, x -> ${graft.ops.TextOps.h60("x")}) as sh",
        "cast(size(sh_txt) as bigint) as n_sh")
    val brute = sets.as("a").join(sets.as("b"), expr("a.doc_id < b.doc_id"))
      .selectExpr("a.doc_id as doc_a", "b.doc_id as doc_b",
        "cast(size(array_intersect(a.sh, b.sh)) as double) / (a.n_sh + b.n_sh - size(array_intersect(a.sh, b.sh))) as j")
      .filter(col("j") >= 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val filtered = DedupOps.jaccardPairs(docs, 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(brute.nonEmpty)
    assert(filtered === brute)
  }

  test("minhash LSH finds exactly the exact-jaccard pairs on the fixture") {
    val docs = Tables.load(spark, sfDir, "documents")
    val exact = DedupOps.jaccardPairs(docs, 0.8)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = DedupOps.minhashPairs(docs, 0.8)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "fixture should contain planted near-dup pairs")
    assert(lsh === exact) // no false positives (verified) + full recall here
  }

  test("incremental dedup: multi-batch probe of a persisted index equals one full run") {
    import java.nio.file.Files
    val idx = Files.createTempDirectory("graft_inc_idx_").resolve("sig").toString
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val other = "one two three four five six seven eight nine ten"
    // ids interleave across batches ON PURPOSE: shadow precedence must be
    // ingest order first (B's doc 2 is LATER than A's doc 10), id second
    val batchA = docsDF(
      10L -> base, 40L -> other,
      100L -> "unrelated words entirely distinct tokens written here")
    val batchB = docsDF(
      2L -> base,        // dup of A's 10: ingest order beats the smaller id
      55L -> other,      // dup of A's 40
      7L -> "tiny doc")  // < 3 words: no shingles — can never match, kept
    val batchC = docsDF(
      3L -> base,        // dup of BOTH A's 10 and B's 2
      90L -> "completely fresh content with many novel distinctive words")
    DedupOps.writeSignatureIndex(batchA, idx)
    val r1 = DedupOps.dedupIncremental(batchB, idx, 0.8).collect()
    // probe-only: adjudicating B must not have touched the index
    assert(spark.read.parquet(idx).count() === 3L)
    DedupOps.appendSignatureIndex(batchB, idx)
    assert(spark.read.parquet(idx).count() === 5L) // doc 7 has no signature
    val r2 = DedupOps.dedupIncremental(batchC, idx, 0.8).collect()

    def asMap(rs: Array[Row]) = rs.map(r => r.getLong(0) ->
      ((r.getString(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3))))).toMap
    val m1 = asMap(r1); val m2 = asMap(r2)
    assert(m1(2L) === (("dropped", 1L, Some(10L))))
    assert(m1(55L) === (("dropped", 1L, Some(40L))))
    assert(m1(7L) === (("kept", 0L, None)))
    assert(m2(3L) === (("dropped", 2L, Some(2L)))) // min shadower id, either batch
    assert(m2(90L) === (("kept", 0L, None)))

    // FULL-RUN equivalence: brute-force the declared rule over the union
    // of all three batches (band overlap + >= 0.8 signature agreement
    // against every earlier-ingested doc) and require the incremental
    // verdicts to match it row for row
    val batchOf = Map(10L -> 0, 40L -> 0, 100L -> 0,
      2L -> 1, 55L -> 1, 7L -> 1, 3L -> 2, 90L -> 2)
    val sigs = DedupOps.signatures(batchA.union(batchB).union(batchC))
      .filter("n_sh >= 1").selectExpr("doc_id", "sig").collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    def bandKeys(s: Seq[Long]) =
      (0 until DedupOps.B).map(b => (b, s(2 * b), s(2 * b + 1))).toSet
    def shadows(e: Long, p: Long): Boolean =
      sigs.contains(e) && sigs.contains(p) &&
        (bandKeys(sigs(e)) intersect bandKeys(sigs(p))).nonEmpty &&
        sigs(e).zip(sigs(p)).count { case (a, b) => a == b }.toDouble / DedupOps.K >= 0.8
    for ((pid, got) <- m1 ++ m2) {
      val earlier = batchOf.keys.filter(e => batchOf(e) < batchOf(pid) ||
        (batchOf(e) == batchOf(pid) && e < pid))
      val hits = earlier.filter(e => shadows(e, pid)).toSeq
      val want =
        if (hits.isEmpty) ("kept", 0L, None)
        else ("dropped", hits.size.toLong, Some(hits.min))
      assert(got === want, s"doc $pid: incremental $got vs full-run $want")
    }
  }

  test("dedup groups: both CC paths merge components transitively and agree") {
    val docs = (1L to 8L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    // chain 5-6-7-8 needs THREE propagation rounds to reach label 5 at 8
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L), (6L, 7L), (7L, 8L))
      .toDF("doc_a", "doc_b")
    val expected = Array(
      (1L, 1L, 0), (2L, 1L, 1), (3L, 1L, 1), (4L, 4L, 0),
      (5L, 5L, 0), (6L, 5L, 1), (7L, 5L, 1), (8L, 5L, 1))
    // default: driver union-find fast path
    val viaDriver = DedupOps.dedupGroups(docs, pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(viaDriver === expected)
    // driverMaxPairs = 0 forces the distributed propagation path
    val viaCluster = DedupOps.dedupGroups(docs, pairs, driverMaxPairs = 0).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(viaCluster === expected)
  }

  test("dedup resolve: canonical is the longest member, one keeper per cluster") {
    // cluster {1,2,3}: doc 3 is LONGEST -> canonical despite largest id;
    // cluster {5,6}: tie on n_chars -> smallest id (5) wins; 4 is singleton
    val docs = Seq(
      (1L, "a", 10L), (2L, "b", 25L), (3L, "c", 40L),
      (4L, "d", 7L), (5L, "e", 12L), (6L, "f", 12L))
      .toDF("doc_id", "text", "n_chars")
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("doc_a", "doc_b")
    val out = DedupOps.dedupResolve(docs, pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
    assert(out === Array(
      (1L, 1L, 3L, 0), (2L, 1L, 3L, 0), (3L, 1L, 3L, 1),
      (4L, 4L, 4L, 1), (5L, 5L, 5L, 1), (6L, 5L, 5L, 0)))
    // exactly one keeper per group, always — the invariant a downstream
    // filter on is_kept relies on
    val keepers = out.groupBy(_._2).view.mapValues(_.map(_._4).sum)
    assert(keepers.values.forall(_ == 1))
  }

  test("dedup groups: driver union-find equals brute-force closure on random graphs") {
    def lcg(seed: Long): Iterator[Long] =
      Iterator.iterate(seed)(x => x * 6364136223846793005L + 1442695040888963407L).drop(1)
    (1 to 8).foreach { trial =>
      val n = 20
      val rnd = lcg(7700 + trial)
      val edges = rnd.take(12).toVector.map { x =>
        val a = ((x >>> 20) % n).toInt; val b = ((x >>> 40) % n).toInt
        (math.min(a, b).toLong, math.max(a, b).toLong)
      }.filter(e => e._1 != e._2).distinct
      // brute force: repeated relaxation to a fixed point over the closure
      val lbl = scala.collection.mutable.Map((0L until n.toLong).map(i => i -> i): _*)
      var changed = true
      while (changed) {
        changed = false
        edges.foreach { case (a, b) =>
          val m = math.min(lbl(a), lbl(b))
          if (lbl(a) != m) { lbl(a) = m; changed = true }
          if (lbl(b) != m) { lbl(b) = m; changed = true }
        }
      }
      val docs = (0L until n.toLong).map(i => (i, s"d$i")).toDF("doc_id", "text")
      val pairs = edges.toDF("doc_a", "doc_b")
      val out = DedupOps.dedupGroups(docs, pairs).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(out === lbl.toMap, s"trial $trial mismatch (edges: $edges)")
    }
  }

  test("distributed dedup groups raises instead of returning partial labels when maxIters is too low") {
    val docs = (1L to 6L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val chain = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L))
      .toDF("doc_a", "doc_b")
    val e = intercept[IllegalArgumentException] {
      DedupOps.dedupGroups(docs, chain, maxIters = 2, driverMaxPairs = 0).collect()
    }
    assert(e.getMessage.contains("did not converge"))
    // with enough rounds the same chain fully collapses to label 1
    val ok = DedupOps.dedupGroups(docs, chain, maxIters = 10, driverMaxPairs = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(ok.forall(_._2 === 1L))
  }

  test("star-contraction CC: a 1000-node chain converges in O(log n) rounds, not O(diameter)") {
    // the r4 per-hop min-label loop needed ~1000 rounds here; the
    // large-star/small-star contraction must finish well inside 20
    val n = 1000
    val docs = (0L until n.toLong).map(i => (i, s"d$i")).toDF("doc_id", "text")
    val chain = (0L until (n - 1).toLong).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val out = DedupOps.dedupGroups(docs, chain, maxIters = 20, driverMaxPairs = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    // brute-force closure of a chain: one component rooted at 0
    assert(out.length === n)
    assert(out.forall { case (id, keep, dup) => keep === 0L && dup === (if (id == 0L) 0 else 1) })
  }

  test("star-contraction CC equals brute-force closure on random graphs (distributed path)") {
    def lcg(seed: Long): Iterator[Long] =
      Iterator.iterate(seed)(x => x * 6364136223846793005L + 1442695040888963407L).drop(1)
    (1 to 3).foreach { trial =>
      val n = 24
      val edges = lcg(9900 + trial).take(14).toVector.map { x =>
        val a = ((x >>> 20) % n).toInt; val b = ((x >>> 40) % n).toInt
        (math.min(a, b).toLong, math.max(a, b).toLong)
      }.filter(e => e._1 != e._2).distinct
      val lbl = scala.collection.mutable.Map((0L until n.toLong).map(i => i -> i): _*)
      var changed = true
      while (changed) {
        changed = false
        edges.foreach { case (a, b) =>
          val m = math.min(lbl(a), lbl(b))
          if (lbl(a) != m) { lbl(a) = m; changed = true }
          if (lbl(b) != m) { lbl(b) = m; changed = true }
        }
      }
      val docs = (0L until n.toLong).map(i => (i, s"d$i")).toDF("doc_id", "text")
      val out = DedupOps.dedupGroups(docs, edges.toDF("doc_a", "doc_b"),
          driverMaxPairs = 0).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(out === lbl.toMap, s"trial $trial mismatch (edges: $edges)")
    }
  }

  test("simhash: identical docs collide at hamming 0") {
    val d = docsDF(1L -> "spark query engine test doc", 2L -> "spark query engine test doc")
    val out = DedupOps.simhashPairs(d, 0).collect()
    assert(out.length === 1 && out(0).getLong(2) === 0L)
  }

  test("multimodal near-dup: planted near-identical frame sets recovered, far ones not") {
    import spark.implicits._
    // two frames per doc, 4 feature dims each. docs 1/2 identical
    // (hamming 0); doc 3 = doc 1 with ONE adjacent-comparison flipped in
    // frame 1 (hamming 1 — the "near-identical frames" case); doc 4 has
    // doc 1's frames SWAPPED, which inverts every slot nibble (far).
    val frames = Map(
      1L -> Seq(Seq(0.9, 0.1, 0.8, 0.2), Seq(0.1, 0.9, 0.2, 0.8)),
      2L -> Seq(Seq(0.9, 0.1, 0.8, 0.2), Seq(0.1, 0.9, 0.2, 0.8)),
      3L -> Seq(Seq(0.9, 0.1, 0.8, 0.2), Seq(0.1, 0.9, 0.25, 0.2)),
      4L -> Seq(Seq(0.1, 0.9, 0.2, 0.8), Seq(0.9, 0.1, 0.8, 0.2)))
    val rows = for {
      (doc, fs) <- frames.toSeq
      (feats, fi) <- fs.zipWithIndex
      (v, j) <- feats.zipWithIndex
    } yield (doc, fi.toLong * 4, j.toLong, v)
    val features = rows.toDF("doc_id", "frame_idx", "dim_j", "feat")
    // two-frame docs sit below the production minSlots=4 cut — lower it
    // so the planted radius semantics stay observable (all docs share
    // the nf=2 length class, so every planted pair is in scope)
    val out = MultimodalOps.multimodalNearDup(features, minSlots = 1).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(out === Seq((1L, 2L, 0L), (1L, 3L, 1L), (2L, 3L, 1L)))
    // …and at the default cut the two-frame class is excluded entirely
    assert(MultimodalOps.multimodalNearDup(features).collect().isEmpty)
    // and the signature really is frame-slot-positional: dHash per frame
    val dh = MultimodalOps.frameDHash(features)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(dh((1L, 0L)) === 5L && dh((1L, 4L)) === 10L) // wrap-around bits
    assert(dh((3L, 4L)) === 14L) // one comparison flipped vs doc 1
  }

  test("multimodal near-dup packing GUARDS: foreign input raises instead of corrupting") {
    // ADVICE r14: multimodalNearDup is public with arbitrary features —
    // out-of-range slots / over-wide dhashes / slot collisions must raise
    // loudly, never silently alias bits into wrong signature slots.
    def run(rows: Seq[(Long, Long, Long, Double)]): Unit =
      MultimodalOps.multimodalNearDup(
        rows.toDF("doc_id", "frame_idx", "dim_j", "feat")).collect()
    val frame = Seq(0.9, 0.1, 0.8, 0.2) // dhash 5 (4-dim, fits a nibble)
    def rowsAt(doc: Long, frameIdx: Long, feats: Seq[Double]) =
      feats.zipWithIndex.map { case (v, j) => (doc, frameIdx, j.toLong, v) }
    // slot 64/4 = 16 ≥ the 8-slot signature → shift would wrap mod 64
    val slotOverflow = intercept[Exception](run(rowsAt(1L, 64L, frame)))
    assert(slotOverflow.getMessage.contains("exceeds"), slotOverflow.getMessage)
    // a 6-dim frame hashes wider than slotBits=4 → would carry across slots
    val wide = intercept[Exception](
      run(rowsAt(1L, 0L, Seq(0.9, 0.1, 0.9, 0.1, 0.9, 0.1))))
    assert(wide.getMessage.contains("slotBits"), wide.getMessage)
    // two frames landing in ONE slot (frame_idx 0 and 1 with every=4, same
    // dhash) → the carry-prone sum and carry-free bit_or disagree → raise
    val collide = intercept[Exception](
      run(rowsAt(1L, 0L, frame) ++ rowsAt(1L, 1L, frame)))
    assert(collide.getMessage.contains("one signature slot"), collide.getMessage)
    // valid geometry still passes clean (the r14 fixture shape)
    run(rowsAt(1L, 0L, frame) ++ rowsAt(1L, 4L, frame))
  }

  test("cosineNearDup SIZE GUARD raises above maxExactRows, pointing at the LSH twin") {
    // VERDICT r14 #4: the exact all-pairs tier (N²/2 dot products) must
    // refuse production-sized inputs loudly instead of attempting
    // quadratic work; fixtures sit far below the default 2^18 threshold.
    val emb = Tables.load(spark, sfDir, "embeddings")
    val e = intercept[IllegalArgumentException](
      VectorOps.cosineNearDup(emb, 0.45, maxExactRows = 10L))
    assert(e.getMessage.contains("cosineNearDupLsh"), e.getMessage)
    // at/below the threshold the tier runs as before
    VectorOps.cosineNearDup(emb.limit(10), 0.45, maxExactRows = 10L).collect()
  }

  test("simhash pairs are EXHAUSTIVE: equal to brute-force all-pairs at the radius") {
    val docs = Tables.load(spark, sfDir, "documents")
    val sh = graft.ops.TextOps.simhash(docs)
    val brute = sh.as("a").join(sh.as("b"), expr("a.doc_id < b.doc_id"))
      .selectExpr("a.doc_id as doc_a", "b.doc_id as doc_b",
        "bit_count(a.simhash ^ b.simhash) as hamming")
      .filter(col("hamming") <= 12)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val blocked = DedupOps.simhashPairs(docs, 12)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2).toInt)).toSet
    assert(brute.nonEmpty, "fixture should contain pairs within the radius")
    assert(blocked === brute)
  }

  test("production-radius simhash64 (r=3, 16-bit blocks): exhaustive at the radius with real pruning") {
    // Deterministic corpus: 200 docs of 80 words drawn LCG-uniformly from a
    // 5000-word vocabulary, plus 8 planted exact duplicates (Hamming 0).
    def lcg(seed: Long): Iterator[Long] =
      Iterator.iterate(seed)(x => x * 6364136223846793005L + 1442695040888963407L).drop(1)
    val base = (0 until 200).map { i =>
      (i.toLong, lcg(1000 + i).take(80).map(x => s"w${(x >>> 33) % 5000}").mkString(" "))
    }
    val planted = (0 until 8).map(i => (1000L + i, base(i)._2))
    val d = (base ++ planted).toDF("doc_id", "text")
    val out = DedupOps.simhashPairs64(d, 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // in-test brute-force ground truth over the collected 64-bit signatures
    val sigs = DedupOps.simhash64Sig(d).collect().map(r => (r.getLong(0), r.getLong(1)))
    val truth = (for {
      (ia, sa) <- sigs; (ib, sb) <- sigs
      if ia < ib && java.lang.Long.bitCount(sa ^ sb) <= 3
    } yield (ia, ib, java.lang.Long.bitCount(sa ^ sb).toLong)).toSet
    assert(truth.size >= 8, "planted duplicates must be within the radius")
    assert(out === truth) // exhaustive — not a bucketing-dependent subset
    // pruning: the 16-bit blocks must collapse the candidate space — the
    // radius-12/60-bit oracle gate only prunes ~24×; this is the config
    // whose claim (≫100×) has to be executable, not just scaladoc.
    val n = sigs.length.toLong
    val nCand = DedupOps.blockCandidates(DedupOps.simhash64Sig(d), 3, 64).count()
    val allPairs = n * (n - 1) / 2
    assert(nCand < allPairs / 100, s"no pruning: $nCand candidates of $allPairs pairs")
    // a radius ≥ the key width would yield zero-width pigeonhole blocks
    // (every row joins on a constant key — silent all-pairs); it raises
    val e = intercept[IllegalArgumentException] { DedupOps.simhashPairs64(d, 64) }
    assert(e.getMessage.contains("maxHamming"))
  }

  test("text stats computes exact counts on a known doc") {
    val d = docsDF(1L -> "The quick brown fox, the lazy dog!")
    val r = TextOps.textStats(d).collect()(0)
    val m = r.getValuesMap[Any](r.schema.fieldNames)
    assert(m("n_words") === 7L)
    assert(m("n_distinct_words") === 6L)        // 'the' twice
    assert(m("n_chars") === 34L)
    assert(m("stopword_ratio") === 2.0 / 7)     // the, the
    assert(m("punct_ratio") === 2.0 / 34)       // comma + bang
  }

  test("lang id picks the language with most stopword hits") {
    val d = docsDF(
      1L -> "the cat is of the house",
      2L -> "le chat est la maison et le chien",
      3L -> "der hund ist und das haus ein")
    val out = graft.ops.TextOps.langId(d).orderBy("doc_id")
      .select("lang_pred").as[String].collect()
    assert(out === Array("en", "fr", "de"))
  }

  test("fingerprint is order-sensitive") {
    val d = docsDF(1L -> "alpha beta gamma", 2L -> "gamma beta alpha")
    val fps = TextOps.fingerprint(d).select("fingerprint").as[Long].collect()
    assert(fps(0) !== fps(1))
  }

  test("topk aggregator returns the identical exact result as the window") {
    val e = Tables.load(spark, sfDir, "embeddings")
    val win = VectorOps.cosineTopK(e, 5, 10).collect()
    val agg = VectorOps.cosineTopKAgg(e, 5, 10).collect()
    assert(win.length === agg.length)
    win.zip(agg).foreach { case (a, b) => assert(a === b) }
  }

  test("IVF probe beats its scanned fraction on recall (uniform worst case)") {
    val e = Tables.load(spark, sfDir, "embeddings")
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(VectorOps.cosineTopK(e, 5, 20))
    val ivf = pairs(ClusterOps.topKIvf(e, kc = 16, nprobe = 4, k = 5, nQueries = 20))
    val recall = (exact & ivf).size.toDouble / exact.size
    // uniform-random embeddings are the ANN worst case: recall ≈ scanned
    // fraction (4/16 = 25%); require it lands at least in that regime.
    assert(recall >= 0.15, s"IVF recall $recall collapsed below scan fraction")
    // fixture embeddings are unit-norm, so L2 order is cosine order: probing
    // every cell is the exact search
    assert(pairs(ClusterOps.topKIvf(e, kc = 16, nprobe = 16, k = 5, nQueries = 20)) === exact)
  }

  test("embedding quantization: reconstruction error is bounded by half a step") {
    val e = Tables.load(spark, sfDir, "embeddings")
    val q = VectorOps.quantizeEmbeddings(e)
    val worst = e
      .selectExpr("vec_id", "transform(embedding, x -> cast(x as double)) as v")
      .join(VectorOps.dequantizeEmbeddings(q).withColumnRenamed("embedding", "v2"), "vec_id")
      .join(q.select("vec_id", "qstep"), "vec_id")
      .selectExpr(
        "aggregate(zip_with(v, v2, (a, b) -> abs(a - b)), 0D, (m, x) -> greatest(m, x)) as maxerr",
        "qstep")
      .selectExpr("max(maxerr - (qstep / 2 + 1e-12)) as over")
      .collect()(0).getDouble(0)
    assert(worst <= 0, s"reconstruction error exceeds step/2 by $worst")
  }

  test("IVF index build + probe returns the identical result as the inline IVF") {
    val e = Tables.load(spark, sfDir, "embeddings")
    ClusterOps.buildIvfIndex(e, "ivf_t", kc = 16, iters = 2)
    val probed = ClusterOps.probeIvf(e, "ivf_t", k = 5, nQueries = 20, nprobe = 4).collect()
    val inline = ClusterOps.topKIvf(e, kc = 16, nprobe = 4, iters = 2, k = 5,
      nQueries = 20).collect()
    assert(probed.length === inline.length && probed.nonEmpty)
    probed.zip(inline).foreach { case (a, b) => assert(a === b) }
  }

  test("IVF index build releases its fit cache once both tables are written") {
    spark.catalog.clearCache()
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    ClusterOps.buildIvfIndex(Tables.load(spark, sfDir, "embeddings"), "ivf_rel", kc = 4, iters = 1)
    assert(spark.table("ivf_rel_cells").count() === 4L)
    assert((sc.getPersistentRDDs.keySet -- before).isEmpty,
      s"buildIvfIndex left ${sc.getPersistentRDDs.values.map(_.name).mkString(", ")} cached")
  }

  test("embedding LSH near-dup: recall 1.0 with real pruning on planted near-dups") {
    // Deterministic corpus: 120 base vectors from an LCG, plus 10 planted
    // near-dups (base + small perturbation → cosine ≈ 0.99).
    def lcg(seed: Long): Iterator[Long] =
      Iterator.iterate(seed)(x => x * 6364136223846793005L + 1442695040888963407L).drop(1)
    def vec(seed: Long, dim: Int): Array[Float] =
      lcg(seed).take(dim).map(x => ((x >>> 11).toDouble / (1L << 53).toDouble - 0.5).toFloat).toArray
    val dim = 64
    val base = (0L until 120L).map(i => (i, vec(i * 7919 + 1, dim)))
    val dups = (0L until 10L).map { i =>
      val b = base(i.toInt)._2
      val noise = vec(i * 104729 + 3, dim)
      (1000L + i, b.zip(noise).map { case (x, n) => x + 0.05f * n })
    }
    val e = spark.createDataFrame((base ++ dups).map { case (id, v) => (id, v.toSeq) })
      .toDF("vec_id", "embedding")
    val exact = VectorOps.cosineNearDup(e, 0.9)
      .select("ida", "idb").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.size === 10, "every planted dup (and nothing else) is above 0.9")
    val lsh = VectorOps.cosineNearDupLsh(e, 0.9, bands = 16, rowsPerBand = 8, dim = dim)
      .select("ida", "idb").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh === exact) // recall 1.0, precision 1.0 (exact verify)
    val nCand = VectorOps.rhpCandidates(e, 16, 8, dim).count()
    val allPairs = 130L * 129L / 2L
    assert(nCand < allPairs / 2, s"no pruning: $nCand candidates of $allPairs pairs")
  }

  test("margin-align ANN tier recovers the exact tier's picks on planted pairs") {
    // Parity-split corpus (even = source A, odd = target B): 80 random
    // vectors per side from the LCG, with the first 10 B vectors planted
    // as near-copies of their A partner (cosine ≈ 0.999) — the bitext
    // ground truth. Dense explicit banding (16, 8): per-band collision
    // p^8 ≈ 0.69 at the planted similarity → miss ≈ 0.31^16 ≈ 7e-9,
    // while background (~90°) pairs collide on a band with prob 1/256 —
    // real pruning AND deterministic full recall on the planted set.
    def lcg(seed: Long): Iterator[Long] =
      Iterator.iterate(seed)(x => x * 6364136223846793005L + 1442695040888963407L).drop(1)
    def vec(seed: Long, dim: Int): Array[Float] =
      lcg(seed).take(dim).map(x => ((x >>> 11).toDouble / (1L << 53).toDouble - 0.5).toFloat).toArray
    val dim = 64
    val rows = (0L until 160L).map { id =>
      if (id % 2 == 1 && id < 20) {
        val partner = vec((id - 1) * 7919 + 1, dim)
        val noise = vec(id * 104729 + 3, dim)
        (id, partner.zip(noise).map { case (x, n) => x + 0.02f * n }.toSeq)
      } else (id, vec(id * 7919 + 1, dim).toSeq)
    }
    val e = spark.createDataFrame(rows).toDF("vec_id", "embedding")
    def picks(df: org.apache.spark.sql.DataFrame): Map[Long, (Long, Int)] =
      df.select("a_id", "b_id", "mutual").collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getInt(2))).toMap
    val exact = picks(VectorOps.marginAlign(e, k = 4, threshold = 0.0))
    val ann = picks(VectorOps.marginAlignAnn(e, k = 4, threshold = 0.0,
      bands = 16, rowsPerBand = 8, dim = dim))
    (0L until 20L by 2).foreach { a =>
      assert(exact(a) === ((a + 1, 1)), s"exact tier must pick the planted pair for $a")
      assert(ann(a) === ((a + 1, 1)), s"ANN tier must pick the planted pair for $a")
    }
    // the candidate join really prunes: ANN emits only vectors with band
    // collisions, a strict subset of the exact tier's every-source output
    assert(ann.size < exact.size,
      s"ANN output ${ann.size} should cover fewer sources than exact ${exact.size}")
  }

  test("embedding LSH near-dup output is a subset of the exact pair set on the fixture") {
    val e = Tables.load(spark, sfDir, "embeddings")
    val exact = VectorOps.cosineNearDup(e, 0.4)
      .select("ida", "idb").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = VectorOps.cosineNearDupLsh(e, 0.4)
      .select("ida", "idb").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(exact)) // verification admits no false positives
  }

  test("adaptive LSH banding: legacy scheme at gate scales, bounded buckets and miss prob beyond") {
    // every gate/spec scale derives EXACTLY the legacy (16, 8) — the
    // unrolled dkLshOracle and the pinned recall tests stay valid
    for (n <- Seq(2L, 130L, 200L, 2000L, 8192L))
      assert(VectorOps.adaptiveBanding(n) === ((16, 8)), s"n=$n")
    // the r16 sf3 decades: deeper codes, wider band sets
    assert(VectorOps.adaptiveBanding(20000L) === ((23, 10)))
    assert(VectorOps.adaptiveBanding(60000L) === ((27, 11)))
    // the two invariants hold over nine decades: expected background
    // bucket N/2^r ≤ 32 and design-point miss (1 − p₉₀^r)^b ≤ 0.5%
    val p90 = 1.0 - math.acos(0.9) / math.Pi
    var n = 100L
    while (n <= 100000000000L) {
      val (b, r) = VectorOps.adaptiveBanding(n)
      assert(n.toDouble / math.pow(2.0, r) <= 32.0 + 1e-9, s"bucket at n=$n")
      assert(math.pow(1.0 - math.pow(p90, r), b) <= 0.005 + 1e-12, s"miss at n=$n")
      n *= 10
    }
  }

  test("adaptive banding is oracle-safe: r is integer-exact and b's ceil argument is far from every integer") {
    // the DuckDB oracle re-derives (b, r) from COUNT(*) with its own libm
    // (dkLshOracle, ADVICE r16). r has no floating-point step on either
    // side (smallest r ≥ 8 with n ≤ 32·2^r); b = ceil(x(r)) is
    // transcendental, so pin the margin: x(r) must sit ≥ 0.005 from an
    // integer for every reachable r — measured floor 0.0101 at r = 19,
    // while a few-ulp cross-libm input drift moves x by ≲ 1e-12.
    val p90 = 1.0 - math.acos(0.9) / math.Pi
    for (r <- 8 to 62) {
      val x = math.log(0.005) / math.log(1.0 - math.pow(p90, r))
      val d = math.min(math.ceil(x) - x, x - math.floor(x))
      assert(d >= 0.005, s"ceil margin $d too small at r=$r (x=$x)")
    }
    // integer-exact r: spot-check the exact power-of-two boundaries where
    // the former double-log form could flip by one ulp
    assert(VectorOps.adaptiveBanding(32L * 256L)._2 === 8)      // n = 32·2^8
    assert(VectorOps.adaptiveBanding(32L * 256L + 1)._2 === 9)
    assert(VectorOps.adaptiveBanding(32L * 1024L)._2 === 10)    // n = 32·2^10
    assert(VectorOps.adaptiveBanding(32L * 1024L + 1)._2 === 11)
  }

  test("cosineNearDupLsh rejects mixed-sign or negative banding at construction") {
    val e = Tables.load(spark, sfDir, "embeddings")
    for ((b, r) <- Seq((16, -1), (-1, 16), (-2, -3), (0, 4), (4, 0))) {
      val ex = intercept[IllegalArgumentException] {
        VectorOps.cosineNearDupLsh(e, 0.45, bands = b, rowsPerBand = r)
      }
      assert(ex.getMessage.contains("bands"), s"($b, $r): ${ex.getMessage}")
    }
  }

  test("approx-percentile twin: self-certified bounds hold and exact columns equal q18") {
    // the gated query is now SELF-certifying (VERDICT r15 #5): it emits
    // the exact percentiles plus booleans asserting the sketch landed
    // within 5% — so the spec checks the booleans are TRUE and the exact
    // columns are bit-equal to q18's buffering aggregates
    val exact = SparkEntry.queries("q18_percentiles")(spark, sfDir).collect()
    val approx = SparkEntry.queries("q18_percentiles_approx")(spark, sfDir).collect()
    assert(exact.length === approx.length && exact.nonEmpty)
    exact.zip(approx).foreach { case (e, a) =>
      assert(e.getString(0) === a.getString(0))          // same groups
      assert(e.getLong(4) === a.getLong(4))              // exact counts
      (1 to 3).foreach(i => assert(e.getDouble(i) === a.getDouble(i),
        s"col $i: exact path ${a.getDouble(i)} vs q18 ${e.getDouble(i)}"))
      (5 to 7).foreach(i => assert(a.getBoolean(i), s"bound flag $i false"))
    }
  }

  test("approx WITHIN GROUP twin: self-certified bounds hold and exact columns equal q25") {
    val exact = SparkEntry.queries("q25_within_group")(spark, sfDir).collect()
    val approx = SparkEntry.queries("q25_within_group_approx")(spark, sfDir).collect()
    assert(exact.length === approx.length && exact.nonEmpty)
    exact.zip(approx).foreach { case (e, a) =>
      assert(e.getString(0) === a.getString(0))          // same groups
      assert(e.getLong(4) === a.getLong(4))              // exact counts
      (1 to 3).foreach(i => assert(e.getDouble(i) === a.getDouble(i),
        s"col $i: exact path ${a.getDouble(i)} vs q25 ${e.getDouble(i)}"))
      (5 to 7).foreach(i => assert(a.getBoolean(i), s"bound flag $i false"))
    }
  }

  test("asof join: latest right ts at-or-before, ties match, no-match is null") {
    val left = Seq((1L, 10L, "a"), (1L, 20L, "b"), (2L, 5L, "c")).toDF("k", "t", "tag")
    val right = Seq((1L, 10L), (1L, 15L), (1L, 25L), (3L, 1L)).toDF("k", "t")
    val out = graft.ops.AsOfOps.asof(left, right, "k", "t", "t")
      .orderBy("tag").collect()
      .map(r => (r.getString(2), if (r.isNullAt(3)) None else Some(r.getLong(3))))
    assert(out === Array(
      ("a", Some(10L)),  // equal ts matches (<= semantics)
      ("b", Some(15L)),  // latest preceding, not the future 25
      ("c", None)))      // no right rows for key 2
  }

  test("asof join tolerance nulls out stale matches but keeps the row") {
    val left = Seq((1L, 100L, "x"), (1L, 200L, "y")).toDF("k", "t", "tag")
    val right = Seq((1L, 95L)).toDF("k", "t")
    val out = graft.ops.AsOfOps.asof(left, right, "k", "t", "t",
        tolerance = Some("10"))
      .orderBy("tag").collect()
      .map(r => (r.getString(2), if (r.isNullAt(3)) None else Some(r.getLong(3))))
    assert(out === Array(
      ("x", Some(95L)),  // within 10 of 100
      ("y", None)))      // 95 is 105 stale for t=200 -> nulled, row kept
  }

  test("frame features: sampling stride and frame count agree with decode metadata") {
    val d = docsDF(1L -> "clip one payload", 2L -> "clip two")
    val meta = MultimodalOps.decodeMeta(d).collect()
      .map(r => r.getLong(0) -> r.getLong(4)).toMap // doc_id -> n_frames
    val frames = MultimodalOps.frameFeatures(d, every = 4, dim = 4).collect()
    frames.groupBy(_.getLong(0)).foreach { case (id, rows) =>
      val expectFrames = (0L until meta(id) by 4L).toSet
      assert(rows.map(_.getLong(1)).toSet === expectFrames) // every 4th frame
      assert(rows.length === expectFrames.size * 4)         // dim rows per frame
    }
    frames.foreach(r => assert(r.getDouble(3) >= 0.0 && r.getDouble(3) < 1.0))
    // deterministic: same payload, same features
    val again = MultimodalOps.frameFeatures(d, every = 4, dim = 4).collect()
    assert(frames.map(_.toSeq).toSeq === again.map(_.toSeq).toSeq)
  }

  test("salted join equals the plain join on heavily skewed keys") {
    // 10k rows of one hot key + a uniform tail, joined to a small dim
    val big = spark.range(10000).selectExpr(
      "CASE WHEN id < 9000 THEN 7L ELSE id % 50 END AS k", "id AS payload")
    val dim = spark.range(50).selectExpr("id AS k", "concat('dim_', id) AS name")
    val plain = big.join(dim, Seq("k")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sorted
    val salted = graft.ops.SkewOps.saltedJoin(big, dim, "k", salt = 8).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sorted
    assert(salted.length === plain.length)
    assert(salted === plain)
  }

  test("multimodal decode: metadata is deterministic and schema-stable") {
    val d = docsDF(1L -> "some payload", 2L -> "some payload", 3L -> "other")
    val out = MultimodalOps.decodeMeta(d, batchSize = 2).orderBy("doc_id").collect()
    assert(out.map(_.schema.fieldNames.toSeq).distinct.length === 1)
    // identical payloads → identical fake metadata
    assert(out(0).toSeq.drop(1) === out(1).toSeq.drop(1))
    assert(out(0).getLong(1) === "some payload".getBytes("UTF-8").length.toLong)
    val codecs = out.map(_.getString(5)).toSet
    assert(codecs.subsetOf(Set("jpeg", "png", "webp")))
  }

  test("gopher repetition: planted dup lines, 5-gram mass and the 2-gram tie-break") {
    val d = docsDF(
      1L -> "a b\nc d\na b",                  // one repeated line of three
      2L -> "a b c a b c",                    // 2-gram tie: "a b" vs "b c"
      3L -> ("x y z w v " * 4).trim)          // every 5-gram repeated
    val out = TextOps.gopherRepetition(d).collect()
      .map(r => r.getLong(0) -> r).toMap
    val r1 = out(1L)
    assert(r1.getLong(1) === 3L)                          // n_lines
    assert(r1.getDouble(2) === 1.0 / 3)                   // dup_line_frac
    assert(r1.getDouble(3) === 3.0 / 11)                  // dup_line_char_frac
    val r2 = out(2L)
    assert(r2.getDouble(2) === 0.0)
    // "a b" and "b c" both occur twice; the lexicographically smaller gram
    // wins the tie: 2 occurrences x 3 chars over 11 chars
    assert(r2.getDouble(4) === 6.0 / 11)
    assert(r2.getDouble(5) === 0.0)                       // no repeated 5-gram
    val r3 = out(3L)
    assert(r3.getDouble(5) === 1.0)                       // all 5-grams repeat
    assert(r3.getInt(6) === 0, "saturated repetition must fail the keep gate")
    assert(r1.getInt(6) === 0 && r2.getInt(6) === 0,
      "dup_line_frac 1/3 and top2 6/11 both exceed their thresholds")
  }

  test("lang sample weights: probabilities sum to 1, α=1/2 compresses shares") {
    val d = Tables.load(spark, sfDir, "documents")
    val out = graft.ops.PipelineOps.langSampleWeights(d).collect()
      .map(r => (r.getString(0), r.getDouble(3), r.getDouble(4), r.getDouble(5)))
    assert(out.length > 1)
    assert(math.abs(out.map(_._3).sum - 1.0) < 1e-12)
    // p_l > s_l ⟺ s_l < 1/(Σ√s)² — the exact pivot temperature sampling
    // compresses shares toward (α < 1 boosts below it, shrinks above it)
    val pivot = 1.0 / math.pow(out.map(s => math.sqrt(s._2)).sum, 2)
    out.foreach { case (lang, share, p, boost) =>
      if (share > pivot + 1e-12) assert(p < share && boost < 1.0, s"$lang not downweighted")
      if (share < pivot - 1e-12) assert(p > share && boost > 1.0, s"$lang not boosted")
    }
    val byShare = out.sortBy(_._2).map(_._1).toSeq
    val byP = out.sortBy(_._3).map(_._1).toSeq
    assert(byShare === byP, "α=1/2 must preserve the language ordering")
  }

  test("image headers decode REAL dimensions from PNG/GIF/JPEG magic bytes") {
    // hand-built PNG: signature + IHDR length/type + width 640 height 480
    val png = Array[Int](
      0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a,   // signature
      0, 0, 0, 13, 'I', 'H', 'D', 'R',                // IHDR chunk header
      0, 0, 0x02, 0x80,                               // width  640 (BE u32)
      0, 0, 0x01, 0xe0,                               // height 480 (BE u32)
      8, 2, 0, 0, 0).map(_.toByte)
    assert(MultimodalOps.imageHeader(png) === Some((640L, 480L, "png")))
    // GIF89a: logical screen 320 x 200, little-endian u16
    val gif = Array[Int]('G', 'I', 'F', '8', '9', 'a',
      0x40, 0x01,                                     // width  320 (LE u16)
      0xc8, 0x00,                                     // height 200 (LE u16)
      0x00, 0x00, 0x00).map(_.toByte)
    assert(MultimodalOps.imageHeader(gif) === Some((320L, 200L, "gif")))
    // JPEG: SOI, APP0 (skipped via its length field), SOF0 with
    // precision 8, height 99, width 257
    val jpg = Array[Int](
      0xff, 0xd8,                                     // SOI
      0xff, 0xe0, 0x00, 0x04, 0x4a, 0x46,             // APP0, len 4
      0xff, 0xc0, 0x00, 0x0b,                         // SOF0, len 11
      0x08,                                           // precision
      0x00, 0x63,                                     // height 99 (BE u16)
      0x01, 0x01,                                     // width 257 (BE u16)
      0x01, 0x01, 0x11, 0x00).map(_.toByte)
    assert(MultimodalOps.imageHeader(jpg) === Some((257L, 99L, "jpeg")))
    // non-image bytes fall through to the stub tier
    assert(MultimodalOps.imageHeader("plain text".getBytes("UTF-8")) === None)
    assert(MultimodalOps.imageHeader(Array.emptyByteArray) === None)
    // and the decode surface reports the real geometry end-to-end
    val row = MultimodalOps.decodeStub(7L, png)
    assert(row.getLong(2) === 640L && row.getLong(3) === 480L)
    assert(row.getString(5) === "png" && row.getLong(1) === png.length.toLong)
  }

  test("sorted percentiles are BIT-identical to the buffering aggregate") {
    // q25_within_group_sorted (PercentileOps rank path, O(1) per-group
    // memory) vs q25_within_group (Spark's buffering percentile_cont/disc):
    // same interpolation arithmetic → exact double equality, not epsilon.
    val buffered = SparkEntry.queries("q25_within_group")(spark, sfDir).collect()
    val sorted = SparkEntry.queries("q25_within_group_sorted")(spark, sfDir).collect()
    assert(buffered.length === sorted.length && buffered.nonEmpty)
    buffered.zip(sorted).foreach { case (b, s) =>
      assert(b.getString(0) === s.getString(0))
      (1 to 3).foreach(i => assert(b.getDouble(i) === s.getDouble(i),
        s"group ${b.getString(0)} col $i: buffered ${b.getDouble(i)} vs sorted ${s.getDouble(i)}"))
      assert(b.getLong(4) === s.getLong(4))
    }
  }

  test("q18 sorted twin is BIT-identical to the buffering median/percentile") {
    // multi-value-column shape: median(l_quantity) + two percentiles of
    // l_extendedprice → two ranked passes joined back on the group key
    val buffered = SparkEntry.queries("q18_percentiles")(spark, sfDir).collect()
    val sorted = SparkEntry.queries("q18_percentiles_sorted")(spark, sfDir).collect()
    assert(buffered.length === sorted.length && buffered.nonEmpty)
    buffered.zip(sorted).foreach { case (b, s) =>
      assert(b.getString(0) === s.getString(0))
      (1 to 3).foreach(i => assert(b.getDouble(i) === s.getDouble(i),
        s"group ${b.getString(0)} col $i: buffered ${b.getDouble(i)} vs sorted ${s.getDouble(i)}"))
      assert(b.getLong(4) === s.getLong(4))
    }
  }

  test("sorted percentiles: null-only and interpolation edge groups") {
    import graft.ops.PercentileOps.{sortedPercentiles, PSpec}
    val df = Seq[(String, java.lang.Double)](
      ("a", 1.0), ("a", 2.0), ("a", 3.0), ("a", 4.0), // p=0.5 lands between
      ("b", 10.0),                                    // single value
      ("c", null), ("c", null)                        // all-null group
    ).toDF("k", "v")
    val out = sortedPercentiles(df, "k", Seq(
        PSpec("v", 0.5, "med"), PSpec("v", 0.5, "med_d", disc = true)))
      .orderBy("k").collect()
    assert(out.map(_.getString(0)).toSeq === Seq("a", "b", "c"))
    assert(out(0).getDouble(1) === 2.5 && out(0).getDouble(2) === 2.0)
    assert(out(1).getDouble(1) === 10.0 && out(1).getDouble(2) === 10.0)
    assert(out(2).isNullAt(1) && out(2).isNullAt(2)) // nulls, group kept
    assert(out.map(_.getLong(3)).toSeq === Seq(4L, 1L, 2L)) // COUNT(*) incl nulls

    // the NULL key is a group of its own with its real percentiles, as in
    // SQL: the fold-in joins are null-safe (the group spans partitions)
    val withNull = df.union((1 to 301).map(i =>
      (null: String, java.lang.Double.valueOf(i.toDouble))).toDF("k", "v")).repartition(3)
    val nk = sortedPercentiles(withNull, "k", Seq(
        PSpec("v", 0.5, "med"), PSpec("v", 0.5, "med_d", disc = true)))
      .filter(col("k").isNull).collect()
    assert(nk.length === 1)
    assert((nk(0).getDouble(1), nk(0).getDouble(2), nk(0).getLong(3)) === (151.0, 151.0, 301L))
  }

  test("span dedup finds planted cross-document paragraphs with exact boundaries") {
    val para = (1 to 12).map(i => s"para$i").mkString(" ")  // 12 shared tokens
    val seven = (1 to 7).map(i => s"sev$i").mkString(" ")   // 7 < n=8 → invisible
    val docsDf = Seq(
      (1L, s"alpha beta gamma $para delta epsilon"),  // para at token 3
      (2L, s"$para zeta $seven"),                     // para at token 0
      (3L, s"unrelated words only here nothing shared at all plus $seven"),
      (4L, "solo solo solo solo solo solo solo solo solo solo"), // within-doc only
      (5L, "too short")                               // < n tokens → no shingles
    ).toDF("doc_id", "text")
    val out = graft.ops.DedupOps.spanDedup(docsDf, 8).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // exactly the planted paragraph, with exact token boundaries, in the
    // two docs that share it: a 7-token overlap (docs 2/3) is below the
    // shingle width, and doc 4's repetition is within ONE doc (distinct-doc
    // support = 1) — neither may surface
    assert(out.toSeq === Seq((1L, 3L, 14L, 12L), (2L, 0L, 11L, 12L)))
  }

  test("span dedup merges only adjacent matches and honors minDocs") {
    // two disjoint shared runs inside one doc must come out as TWO spans
    val run1 = (1 to 8).map(i => s"a$i").mkString(" ")
    val run2 = (1 to 8).map(i => s"b$i").mkString(" ")
    val docsDf = Seq(
      (10L, s"$run1 filler1 filler2 $run2"),
      (11L, s"x y $run1 z"),
      (12L, s"$run2 tail1 tail2 tail3 tail4 tail5 tail6 tail7")
    ).toDF("doc_id", "text")
    val out = graft.ops.DedupOps.spanDedup(docsDf, 8).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq === Seq(
      (10L, 0L, 7L, 8L), (10L, 10L, 17L, 8L),  // two separate spans, not one
      (11L, 2L, 9L, 8L), (12L, 0L, 7L, 8L)))
    // raising minDocs above the support kills the spans
    assert(graft.ops.DedupOps.spanDedup(docsDf, 8, minDocs = 3).count() === 0)
  }

  test("rare-token score equals an independent brute-force count") {
    val texts = Seq(
      1L -> "common common common oddityone",         // 1 of 4 occurrences rare
      2L -> "common words words oddlytwo oddlythree", // words appears 3× → not rare at max 2
      3L -> "words common",
      4L -> "zzqx")                                   // pure hapax → ratio 1.0
    val out = graft.ops.TextOps.rareTokenScore(texts.toDF("doc_id", "text"), 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    val cf = texts.flatMap(_._2.split("\\s+")).groupBy(identity).view.mapValues(_.size)
    val brute = texts.map { case (id, t) =>
      val toks = t.split("\\s+").toSeq
      val rare = toks.count(cf(_) <= 2)
      (id, toks.size.toLong, rare.toLong, rare.toDouble / toks.size)
    }
    assert(out === brute)
    assert(out.find(_._1 == 4L).get._4 === 1.0)
  }

  test("frequent n-grams equal an independent brute-force count on planted boilerplate") {
    val boiler = "all rights reserved contact us here"          // 6 tokens → two 5-grams
    val docsDf = Seq(
      (1L, s"alpha beta $boiler"),
      (2L, s"$boiler gamma"),
      (3L, s"delta $boiler epsilon"),
      (4L, s"unique words in this document only no repeats"),
      (5L, s"$boiler $boiler")                                  // tf += 2 per gram, df += 1
    ).toDF("doc_id", "text")
    val out = graft.ops.TextOps.frequentNgrams(docsDf, 5, 3).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    // independent brute force in plain Scala
    val grams = Seq(1L -> s"alpha beta $boiler", 2L -> s"$boiler gamma",
        3L -> s"delta $boiler epsilon", 4L -> "unique words in this document only no repeats",
        5L -> s"$boiler $boiler")
      .flatMap { case (id, t) =>
        t.toLowerCase.trim.split("\\s+").toSeq.sliding(5)
          .filter(_.size == 5).map(g => (g.mkString(" "), id)).toSeq
      }
    val brute = grams.groupBy(_._1).view
      .mapValues(o => (o.size.toLong, o.map(_._2).distinct.size.toLong))
      .filter(_._2._2 >= 3)
      .map { case (g, (tf, df)) => (g, tf, df) }.toSeq.sortBy(_._1)
    assert(brute.nonEmpty)
    assert(out === brute)
    // the planted boilerplate's own grams must be among the survivors
    assert(out.exists(_._1 == "all rights reserved contact us"))
  }

  test("contamination spans locate planted benchmark passages with exact boundaries") {
    val passage = (1 to 10).map(i => s"bench$i").mkString(" ") // 10 shared tokens
    val benchDf = Seq((100L, s"intro words $passage outro")).toDF("doc_id", "text")
    val candsDf = Seq(
      (1L, s"alpha beta gamma $passage delta"),   // passage at tokens 3..12
      (2L, "totally clean text with nothing benchmark related in it at all"),
      (3L, s"$passage")                           // entire doc contaminated
    ).toDF("doc_id", "text")
    val out = graft.ops.DedupOps.contaminationSpans(candsDf, benchDf, 8).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq === Seq((1L, 3L, 12L, 10L), (3L, 0L, 9L, 10L)))
    // a 7-token overlap is below the shingle width → invisible
    val seven = (1 to 7).map(i => s"bench$i").mkString(" ")
    val below = graft.ops.DedupOps.contaminationSpans(
      Seq((9L, s"x $seven y z w v u t s")).toDF("doc_id", "text"), benchDf, 8)
    assert(below.count() === 0)
  }

  test("contamination cut removes exactly the planted benchmark passage") {
    val passage = (1 to 10).map(i => s"bench$i").mkString(" ")
    val benchDf = Seq((100L, passage)).toDF("doc_id", "text")
    val candsDf = Seq(
      (1L, s"keep1 keep2 $passage keep3"),
      (2L, "all clean tokens here nothing to cut at all today")
    ).toDF("doc_id", "text")
    val out = graft.ops.DedupOps.contaminationCut(candsDf, benchDf, 8).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq === Seq(
      (1L, "keep1 keep2 keep3", 10L, 3L),
      (2L, "all clean tokens here nothing to cut at all today", 0L, 10L)))
  }

  test("contamination scoring: planted benchmark overlap measures exactly") {
    val bench = Seq((100L, (1 to 10).map(i => s"b$i").mkString(" ")))
      .toDF("doc_id", "text")  // 10 tokens → 3 distinct 8-gram shingles
    val cands = Seq(
      (1L, "c1 c2 c3 c4 " + (1 to 10).map(i => s"b$i").mkString(" ")), // 3 of 7 windows inside the benchmark
      (2L, (1 to 9).map(i => s"x$i").mkString(" ")),                   // clean: 2 shingles, 0 matched
      (3L, "too short to shingle")                                     // < 8 tokens → NULL
    ).toDF("doc_id", "text")
    val out = graft.ops.DedupOps.contamination(cands, bench, 8)
      .collect()
    assert(out.map(_.getLong(0)).toSeq === Seq(1L, 2L, 3L))
    assert((out(0).getLong(1), out(0).getLong(2)) === ((7L, 3L)))
    assert(out(0).getDouble(3) === 3.0 / 7.0)
    assert((out(1).getLong(1), out(1).getLong(2)) === ((2L, 0L)))
    assert(out(1).getDouble(3) === 0.0)
    assert(out(2).getLong(1) === 0L && out(2).isNullAt(3)) // unmeasurable ≠ clean
  }

  test("span cut removes repeated spans everywhere except the first occurrence") {
    val para = (1 to 12).map(i => s"para$i").mkString(" ")
    val docsDf = Seq(
      (1L, s"alpha beta gamma $para delta epsilon"),  // owner (min doc_id)
      (2L, s"$para zeta yy1 yy2 yy3 yy4 yy5 yy6 yy7"),
      (3L, "unrelated words only here nothing shared at all")
    ).toDF("doc_id", "text")
    val out = graft.ops.DedupOps.spanCut(docsDf, 8).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq === Seq(
      // the owner keeps its text (normalized: lower-cased, single spaces)
      (1L, s"alpha beta gamma $para delta epsilon", 0L, 17L),
      // the later doc loses exactly the shared paragraph
      (2L, "zeta yy1 yy2 yy3 yy4 yy5 yy6 yy7", 12L, 8L),
      (3L, "unrelated words only here nothing shared at all", 0L, 8L)))
    // a doc that is ENTIRELY a repeat of an earlier doc empties out
    val full = Seq(
      (1L, (1 to 10).map(i => s"w$i").mkString(" ")),
      (2L, (1 to 10).map(i => s"w$i").mkString(" "))
    ).toDF("doc_id", "text")
    val f = graft.ops.DedupOps.spanCut(full, 8).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(f.toSeq === Seq(
      (1L, (1 to 10).map(i => s"w$i").mkString(" "), 0L, 10L),
      (2L, "", 10L, 0L)))
  }

  test("stratified sample: at most k per stratum, invariant to partitioning") {
    val docs = Tables.load(spark, sfDir, "documents")
    val base = graft.ops.PipelineOps.stratifiedSample(docs, Seq("lang"), 3)
      .orderBy("lang", "rn").collect()
    assert(base.nonEmpty)
    // rn must be the CONTIGUOUS sequence 1..min(k, stratum size) — an
    // off-by-one that under-selects (rn < k) would still satisfy a bare
    // "at most k" check (ADVICE r7)
    val stratumSizes = docs.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    base.groupBy(_.getString(0)).foreach { case (lang, rows) =>
      val want = (1L to math.min(3L, stratumSizes(lang))).toSeq
      assert(rows.map(_.getLong(2)).sorted.toSeq === want,
        s"stratum $lang: rn not contiguous 1..${want.last}")
    }
    // md5 keying makes the selection a pure function of doc_id — the same
    // rows must be chosen under a different physical partitioning
    val repart = graft.ops.PipelineOps
      .stratifiedSample(docs.repartition(7, col("doc_id")), Seq("lang"), 3)
      .orderBy("lang", "rn").collect()
    assert(base.map(_.toSeq).toSeq === repart.map(_.toSeq).toSeq)
  }

  test("stratified sample: one giant stratum (90% of rows) stays correct") {
    // Skew gate (VERDICT r7 #5): the final per-stratum rank sorts one
    // partition per stratum; a 90%-skewed stratum must still return the
    // exact deterministic selection (WindowGroupLimit has already capped
    // each map task at k rows per stratum, so the skewed sort ranks
    // O(k · tasks) survivors, not 90% of the corpus).
    val n = 200000L
    val skewed = spark.range(n).selectExpr(
      "id as doc_id",
      "case when id % 10 = 0 then concat('small_', (id div 10) % 5) else 'big' end as stratum")
    val out = graft.ops.PipelineOps
      .stratifiedSample(skewed, Seq("stratum"), 4).collect()
    val byStratum = out.groupBy(_.getString(0))
    assert(byStratum.keySet === (0 until 5).map(i => s"small_$i").toSet + "big")
    byStratum.foreach { case (st, rows) =>
      assert(rows.map(_.getLong(2)).sorted.toSeq === Seq(1L, 2L, 3L, 4L), st)
    }
    // determinism under a different physical partitioning, same skew
    val repart = graft.ops.PipelineOps
      .stratifiedSample(skewed.repartition(13), Seq("stratum"), 4).collect()
    assert(out.map(_.toSeq).toSet === repart.map(_.toSeq).toSet)
  }

  test("interval join equals the brute-force non-equi join") {
    // planted intervals incl. boundary hits (closed BETWEEN), an empty
    // interval, one spanning many buckets, and negative values (floorDiv)
    val probe = Seq(-9L, -7L, -1L, 0L, 3L, 7L, 10L, 14L, 15L, 29L, 100L)
      .toDF("v").withColumn("pid", col("v") * 2)
    val build = Seq(
      (1L, -10L, -8L),  // negative range
      (2L, 0L, 7L),     // closed: both 0 and 7 hit
      (3L, 7L, 7L),     // point interval on a bucket edge
      (4L, 14L, 2L),    // inverted → matches nothing
      (5L, -5L, 40L),   // spans 7 buckets
      (6L, 90L, 110L)
    ).toDF("iid", "lo", "hi")
    val got = graft.ops.RangeJoinOps
      .intervalJoin(probe, build, "v", "lo", "hi", 7, identity)
      .select("pid", "iid").collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    val want = probe.crossJoin(build)
      .filter(col("v") >= col("lo") && col("v") <= col("hi"))
      .select("pid", "iid").collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(want.nonEmpty && got.toSeq === want.toSeq)
  }

  test("semantic dedup finds a subset of the exact all-pairs near-dups, same cosines") {
    val emb = Tables.load(spark, sfDir, "embeddings")
    val exact = graft.ops.VectorOps.cosineNearDup(emb, 0.45).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val sem = graft.ops.ClusterOps.semanticPairs(emb, k = 4, iters = 2, threshold = 0.45)
      .collect().map(r => (r.getLong(1), r.getLong(2)) -> r.getDouble(3))
    assert(sem.nonEmpty, "fixture's planted near-dups should survive clustering")
    // within-cluster pairs are a SUBSET of all-pairs; cosines agree up to
    // the 2^-20 quantization (semanticPairs scores the quantized vectors —
    // that is what makes its gate exact cross-engine)
    sem.foreach { case (pair, cos) =>
      assert(exact.contains(pair), s"pair $pair not in the exact tier")
      assert(math.abs(exact(pair) - cos) < 1e-4, s"cosine drift for $pair")
    }
  }

  test("kmeans recovers planted well-separated clusters, invariant to partitioning") {
    // 3 centers far apart, small deterministic jitter; vec_ids 0,1,2 land
    // in different centers so the lowest-vec_id seed spans all three
    val pts = spark.range(90).selectExpr(
      "id as vec_id",
      """transform(sequence(0, 7), j -> cast(
        |  100.0 * cast(id % 3 as double) * cast(j % 2 as double)
        |  + cast(id as double) / 1000.0 as float)) as embedding""".stripMargin)
    val out = graft.ops.ClusterOps.kmeansAssign(pts, k = 3, iters = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(out.length === 90)
    // every point whose id % 3 agrees must share a label, and the three
    // labels must be distinct
    val byCenter = out.groupBy(_._1 % 3).map { case (c, rows) => c -> rows.map(_._2).toSet }
    assert(byCenter.values.forall(_.size === 1), s"center split across labels: $byCenter")
    assert(byCenter.values.flatten.toSet.size === 3, s"centers merged: $byCenter")
    // exact integer sums → assignment is a pure function of the data,
    // not its physical partitioning
    val repart = graft.ops.ClusterOps
      .kmeansAssign(pts.repartition(7, col("vec_id")), k = 3, iters = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(out.toSeq === repart.toSeq)
  }

  test("semantic dedup cap bounds per-key pair work under a deliberately giant cluster") {
    // 120 near-identical vectors (one giant cluster under k=2) + 3 far
    // outliers — the skew that makes a constant-k SemDeDup quadratic
    val pts = spark.range(123).selectExpr(
      "id as vec_id",
      """transform(sequence(0, 7), j -> cast(
        |  case when id < 120 then 1.0 + cast(id as double) / 10000.0
        |       else 500.0 * cast(id - 118 as double) * cast(j % 2 as double) end
        |  as float)) as embedding""".stripMargin)
    val cap = 16L
    val sub = graft.ops.ClusterOps.cappedAssign(pts, k = 2, iters = 2, cap)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(sub.length === 123)
    val bySize = sub.groupBy(t => (t._2, t._3)).map(_._2.length)
    val byCluster = sub.groupBy(_._2).map { case (c, rows) =>
      c -> (rows.length, rows.map(_._3).toSet.size) }
    // the giant cluster must actually exist and get split into ⌈n/cap⌉
    // sub-buckets; vec_id % nsplits over near-consecutive ids keeps every
    // (cluster, sub) group at ≈ cap — per-key pair work ≤ cap² by design
    val (gn, gsplits) = byCluster.values.maxBy(_._1)
    assert(gn >= 100, s"expected a giant cluster, got $byCluster")
    assert(gsplits === ((gn + cap - 1) / cap).toInt, s"splits: $byCluster")
    assert(bySize.max <= cap + 4, s"a (cluster,sub) group exceeds the cap: ${bySize.max}")
    // capped pairs are a subset of uncapped pairs with identical cosines,
    // and a pair whose ends share a sub-bucket is retained
    val capped = graft.ops.ClusterOps
      .semanticPairs(pts, k = 2, iters = 2, threshold = 0.99, maxClusterSize = cap)
      .collect().map(r => (r.getLong(1), r.getLong(2)) -> r.getDouble(3)).toMap
    val full = graft.ops.ClusterOps
      .semanticPairs(pts, k = 2, iters = 2, threshold = 0.99)
      .collect().map(r => (r.getLong(1), r.getLong(2)) -> r.getDouble(3)).toMap
    assert(capped.nonEmpty, "same-sub near-dup pairs must survive the split")
    capped.foreach { case (pair, cos) =>
      assert(full.get(pair).contains(cos), s"pair $pair drifted vs uncapped run")
    }
    val subOf = sub.map(t => t._1 -> (t._2, t._3)).toMap
    full.keys.filter(p => subOf(p._1) == subOf(p._2)).foreach { p =>
      assert(capped.contains(p), s"same-bucket pair $p lost by the capped run")
    }
  }

  test("semanticPairsAuto derives k from the corpus size (k contract)") {
    // 500 fixture rows / target 32 → k = 16 — the assignment must use 16
    // distinct seeds, not the old constant default
    val emb = Tables.load(spark, sfDir, "embeddings")
    val k = graft.ops.ClusterOps.kmeansAssign(emb, k = 16, iters = 2)
      .select("cluster").distinct().count()
    assert(k > 8, s"16 seeds should yield > 8 populated clusters, got $k")
    // thr 0.3: the sf0.001 fixture's near-dups land below 0.45 once k=16
    // separates the planted pairs more finely than the old constant k
    val auto = graft.ops.ClusterOps
      .semanticPairsAuto(emb, targetClusterSize = 32, iters = 2,
        threshold = 0.3, maxClusterSize = 40L)
      .collect().map(r => (r.getLong(1), r.getLong(2)) -> r.getDouble(3)).toMap
    val explicit = graft.ops.ClusterOps
      .semanticPairs(emb, k = 16, iters = 2, threshold = 0.3, maxClusterSize = 40L)
      .collect().map(r => (r.getLong(1), r.getLong(2)) -> r.getDouble(3)).toMap
    assert(auto === explicit, "auto k=⌈500/32⌉ must equal explicit k=16")
    assert(auto.nonEmpty)

    // the r16 cluster-count budget: when kCap binds, the derived k
    // saturates and auto ≡ explicit at the BUDGET, not at N/target —
    // the contract that makes the assign stage linear past the budget
    val capped = graft.ops.ClusterOps
      .semanticPairsAuto(emb, targetClusterSize = 32, iters = 2,
        threshold = 0.3, maxClusterSize = 40L, kCap = 4)
      .collect().map(r => (r.getLong(1), r.getLong(2)) -> r.getDouble(3)).toMap
    val explicit4 = graft.ops.ClusterOps
      .semanticPairs(emb, k = 4, iters = 2, threshold = 0.3, maxClusterSize = 40L)
      .collect().map(r => (r.getLong(1), r.getLong(2)) -> r.getDouble(3)).toMap
    assert(capped === explicit4, "bound kCap=4 must equal explicit k=4")
  }

  test("pruned kmeans argmin equals the dense argmin exactly (strict norm bound)") {
    // fixture embeddings + the planted-cluster geometry, several k values:
    // the Cauchy-Schwarz prune is strict, so assignments must be
    // IDENTICAL, ties included — not merely close
    val emb = Tables.load(spark, sfDir, "embeddings")
    Seq(3, 16).foreach { k =>
      val dense = graft.ops.ClusterOps.kmeansAssign(emb, k = k, iters = 2)
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      val pruned = graft.ops.ClusterOps.kmeansAssign(emb, k = k, iters = 2,
          pruned = true)
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(dense.toSeq === pruned.toSeq, s"pruned assignment drifted at k=$k")
    }
    // planted well-separated clusters: equality where pruning actually fires
    // (inter-center distances dwarf intra-center ones, so most bound checks
    // skip the dot product)
    val pts = spark.range(90).selectExpr(
      "id as vec_id",
      """transform(sequence(0, 7), j -> cast(
        |  100.0 * cast(id % 3 as double) * cast(j % 2 as double)
        |  + cast(id as double) / 1000.0 as float)) as embedding""".stripMargin)
    val d = graft.ops.ClusterOps.kmeansAssign(pts, k = 3, iters = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val p = graft.ops.ClusterOps.kmeansAssign(pts, k = 3, iters = 2, pruned = true)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(d.toSeq === p.toSeq)
  }

  test("kmeans: each extra Lloyd round costs at most two Spark jobs") {
    // the centroids live on the driver: a round is one aggregation job,
    // not a plan that grows and is persisted round by round
    val emb = Tables.load(spark, sfDir, "embeddings")
    def jobs(iters: Int): Int = {
      spark.catalog.clearCache()
      val (out, started, _) = jobsDuring(s"kmeans-iters-$iters")(
        graft.ops.ClusterOps.kmeansAssign(emb, k = 8, iters = iters).collect())
      assert(out.get.length === 500)
      started.size
    }
    val (one, three) = (jobs(1), jobs(3))
    spark.catalog.clearCache()
    assert(three - one <= 4, s"iters = 1 ran $one jobs, iters = 3 ran $three")
  }

  test("kmeans: a cluster left empty by a duplicate seed keeps its previous centroid") {
    // vec_ids 0 and 1 are the same vector, so seeds 0 and 1 coincide and
    // the (dist, cid) tie-break hands cid 0 every row nearest to them:
    // cluster 1 is empty in the round and keeps its seed, 0 and 2 move
    val pts = spark.range(30).selectExpr("id as vec_id",
      """transform(sequence(0, 3), j -> cast(case when id < 2 then 1.0
        |  else cast(id % 3 as double) * 10.0 + cast(id as double) / 100.0 end
        |  as float)) as embedding""".stripMargin)
    val (cells, _) = graft.ops.ClusterOps.kmeansFit(pts, k = 3, iters = 1)
    val m = cells.collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val seed = Seq.fill(4)(1048576.0) // ⌊1.0 · 2²⁰⌋
    assert(m(1L) === seed)
    assert(m(0L) !== seed)
    assert(m(2L).head > 20.0 * 1048576.0, s"cluster 2 did not move: ${m(2L)}")
    spark.catalog.clearCache()
  }

  test("kmeans: centroid sums past 2^63 raise instead of wrapping") {
    // 2⁴² quantizes to 2⁶², so four rows of one cluster sum to 2⁶⁴
    val pts = spark.range(4).selectExpr("id as vec_id",
      "array(cast(4398046511104.0 as float), cast(1.0 as float)) as embedding")
    val e = intercept[Exception](
      graft.ops.ClusterOps.kmeansAssign(pts, k = 1, iters = 1).collect())
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(_.isInstanceOf[ArithmeticException]), e)
    spark.catalog.clearCache()
  }

  test("epoch materialization: copy counts follow the boosts, deterministic, map-only epoch") {
    val docs = Tables.load(spark, sfDir, "documents")
    val epoch = graft.ops.PipelineOps.epochMaterialize(docs).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val boosts = graft.ops.PipelineOps.langSampleWeights(docs).collect()
      .map(r => r.getString(0) -> r.getDouble(5)).toMap
    val nDocs = docs.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap

    // per-doc copies are contiguous 1..k and k ∈ {⌊boost⌋, ⌊boost⌋+1}
    epoch.groupBy(t => (t._1, t._2)).foreach { case ((id, lang), rows) =>
      val copies = rows.map(_._3).sorted.toSeq
      assert(copies === (1L to copies.length).toSeq, s"copies not contiguous for $id")
      val fl = math.floor(boosts(lang)).toLong
      assert(copies.length == fl || copies.length == fl + 1,
        s"doc $id of $lang got ${copies.length} copies for boost ${boosts(lang)}")
    }
    // per-language epoch size ≈ boost · n_docs (hash fraction averages out;
    // 20% slack at fixture scale)
    boosts.foreach { case (lang, b) =>
      val got = epoch.count(_._2 == lang).toDouble
      val want = b * nDocs(lang)
      assert(math.abs(got - want) <= math.max(5.0, 0.2 * want),
        s"$lang epoch size $got vs expected $want")
    }
    // the dominant language is down-sampled, the rarest up-sampled
    assert(boosts("en") < 1.0 && boosts.values.max > 1.0)
    // deterministic: a repartitioned rerun materializes the identical epoch
    val again = graft.ops.PipelineOps.epochMaterialize(docs.repartition(11))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(epoch.toSeq === again.toSeq)
  }

  test("split assignment: exhaustive, stable, ratio-accurate, weight-normalizing") {
    val docs = Tables.load(spark, sfDir, "documents")
    val a = graft.ops.PipelineOps.splitAssign(docs).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    // every doc exactly once, only declared split names
    assert(a.length === docs.count())
    assert(a.map(_._1).distinct.length === a.length)
    assert(a.map(_._2).toSet.subsetOf(Set("train", "val", "test")))
    // stability: a second run (and a repartitioned input) agrees exactly
    val b = graft.ops.PipelineOps.splitAssign(docs.repartition(7)).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(a.toSeq === b.toSeq)
    // ratio accuracy at n=500: train ≈ 450, loose 3-sigma-ish bound
    val train = a.count(_._2 == "train")
    assert(train > 400 && train < 490, s"train fraction off: $train/500")
    // weights normalize: (9, 0.5, 0.5) == (0.90, 0.05, 0.05)
    val c = graft.ops.PipelineOps.splitAssign(docs,
        splits = Seq("train" -> 9.0, "val" -> 0.5, "test" -> 0.5)).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(a.toSeq === c.toSeq)
  }

  test("bloom decontamination: prefilter is output-invisible, even at a sloppy fpp") {
    val all = Tables.load(spark, sfDir, "documents")
    val cand = all.filter(col("doc_id") % 7 =!= 0)
    val ref = all.filter(col("doc_id") % 7 === 0)
    val plain = graft.ops.DedupOps.contamination(cand, ref, 8)
      .collect().map(_.toSeq).toSeq
    val bloom = graft.ops.DedupOps.contaminationBloom(cand, ref, 8, fpp = 0.01)
      .collect().map(_.toSeq).toSeq
    assert(plain === bloom)
    // fpp = 0.5 floods the probe with false positives; the exact semi-join
    // must still kill every one of them
    val sloppy = graft.ops.DedupOps.contaminationBloom(cand, ref, 8, fpp = 0.5)
      .collect().map(_.toSeq).toSeq
    assert(plain === sloppy)
    // and the probe really is in the plan, as Spark's codegen'd
    // runtime-filter expression (not a UDF)
    val p = graft.ops.DedupOps.contaminationBloom(cand, ref, 8)
      .queryExecution.executedPlan.toString
    assert(p.toLowerCase.contains("might_contain"), p)
  }

  test("pq codes: complete per-vector code tuples; ADC distance matches reconstruction") {
    val emb = Tables.load(spark, sfDir, "embeddings")
    val (m, ksub) = (4, 8)
    val codes = graft.ops.ClusterOps.pqCodes(emb, dim = 64, m = m, ksub = ksub,
      iters = 1).collect()
    val n = emb.count()
    // exactly m codes per vector, each a valid centroid id of its subspace
    assert(codes.length === n * m)
    assert(codes.map(_.getLong(0)).distinct.length === n)
    codes.foreach { r =>
      assert(r.getLong(1) >= 0 && r.getLong(1) < m)
      assert(r.getLong(2) >= 0 && r.getLong(2) < ksub, s"code out of range: $r")
    }

    // ADC dist(q, v) must equal the squared L2 distance from the query's
    // quantized vector to v's RECONSTRUCTION (its subspace centroids
    // concatenated) — same math, different summation tree, so compare with
    // a tolerance instead of bit equality
    val topk = graft.ops.ClusterOps.pqTopK(emb, dim = 64, m = m, ksub = ksub,
      iters = 1, k = 3, nQueries = 5).collect()
    assert(topk.length === 5 * 3)
    val scale = 1048576.0
    val qv: Map[Long, Array[Double]] = emb.collect().map { r =>
      r.getLong(0) -> r.getSeq[Float](1).map(x =>
        math.floor(x.toDouble * scale)).toArray
    }.toMap
    // centroid of (subspace, code) after 1 iteration, recomputed naively:
    // seed = k lowest vec_ids' sub-vectors, one assign + mean round
    val d = 64 / m
    def sub(v: Array[Double], s: Int): Array[Double] = v.slice(s * d, (s + 1) * d)
    def sq(a: Array[Double], b: Array[Double]): Double = {
      // same x·x − 2·x·y + y·y decomposition and fold order as the engine
      def dot(x: Array[Double], y: Array[Double]) =
        x.indices.foldLeft(0.0)((acc, i) => acc + x(i) * y(i))
      dot(a, a) - 2 * dot(a, b) + dot(b, b)
    }
    val ids = qv.keys.toSeq.sorted
    val cent: Map[(Int, Long), Array[Double]] = (0 until m).flatMap { s =>
      var cells: Map[Long, Array[Double]] =
        ids.take(ksub).zipWithIndex.map { case (id, c) => c.toLong -> sub(qv(id), s) }.toMap
      val assign = ids.map { id =>
        id -> cells.toSeq.map { case (c, mv) => (sq(sub(qv(id), s), mv), c) }.min._2
      }
      cells = cells.map { case (c, old) =>
        val members = assign.filter(_._2 == c).map(_._1)
        c -> (if (members.isEmpty) old
              else {
                // quantized values are integer-valued doubles, so the sum
                // is exact and the single division matches the engine's
                val sums = members.map(id => sub(qv(id), s)).transpose.map(_.sum)
                sums.map(_ / members.size).toArray
              })
      }
      cells.map { case (c, mv) => (s, c) -> mv }
    }.toMap
    val codeOf: Map[(Long, Int), Long] =
      codes.map(r => (r.getLong(0), r.getLong(1).toInt) -> r.getLong(2)).toMap
    topk.foreach { r =>
      val (qid, nid, dist) = (r.getLong(0), r.getLong(2), r.getDouble(3))
      val recon = (0 until m).map(s => sq(sub(qv(qid), s), cent((s, codeOf((nid, s)))))).sum
      assert(math.abs(dist - recon) <= 1e-6 * math.max(1.0, math.abs(recon)),
        s"ADC dist drifted from reconstruction: q=$qid n=$nid $dist vs $recon")
    }
  }

  test("pq top-k: exact recall on planted well-separated clusters") {
    // three orthogonal, widely-separated centers with per-vector jitter
    // ≪ separation: PQ quantization error cannot reorder neighbors, so
    // ADC top-k must equal brute-force top-k exactly
    val pts = spark.range(120).selectExpr(
      "id as vec_id",
      """transform(sequence(0, 63), j -> cast(
        |  case when cast(j as bigint) % 3 = id % 3 then 50.0 else 0.0 end
        |  + cast(id as double) / 1000.0 as float)) as embedding""".stripMargin)
    val pq = graft.ops.ClusterOps.pqTopK(pts, dim = 64, m = 4, ksub = 3,
      iters = 2, k = 5, nQueries = 6).collect()
      .map(r => (r.getLong(0), r.getLong(2))).groupBy(_._1)
    // brute force in the same quantized space
    val scale = 1048576.0
    val all = pts.collect().map { r =>
      r.getLong(0) -> r.getSeq[Float](1).map(x =>
        math.floor(x.toDouble * scale)).toArray
    }
    (0L until 6L).foreach { q =>
      val qv = all.find(_._1 == q).get._2
      def dd(a: Array[Double], b: Array[Double]) =
        a.indices.foldLeft(0.0)((acc, i) => acc + (a(i) - b(i)) * (a(i) - b(i)))
      val exact = all.filter(_._1 != q)
        .map { case (id, v) => (dd(qv, v), id) }.sorted.take(5).map(_._2).toSet
      val got = pq(q).map(_._2).toSet
      // same-cluster neighbors win by a huge margin; PQ must find them all
      assert(got === exact, s"query $q: pq=$got exact=$exact")
    }
  }

  test("ivf-pq: probed-cell restriction holds; exact recall on planted clusters at nprobe=1") {
    // structural: ranks contiguous from 1, ≤ k per query, on the fixture
    val emb = Tables.load(spark, sfDir, "embeddings")
    val res = graft.ops.ClusterOps.pqTopKIvf(emb, dim = 64, m = 4, ksub = 8,
      kc = 8, nprobe = 2, iters = 1, k = 5, nQueries = 10).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    res.groupBy(_._1).foreach { case (q, rows) =>
      assert(rows.length <= 5)
      assert(rows.map(_._2).sorted.toSeq === (1L to rows.length).toSeq,
        s"ranks not contiguous for query $q")
    }
    // planted well-separated clusters, nprobe=1: the query's own cluster
    // is always the probed cell and holds all true neighbors, so IVF-PQ
    // must equal exact brute force
    val pts = spark.range(120).selectExpr(
      "id as vec_id",
      """transform(sequence(0, 63), j -> cast(
        |  case when cast(j as bigint) % 3 = id % 3 then 50.0 else 0.0 end
        |  + cast(id as double) / 1000.0 as float)) as embedding""".stripMargin)
    val ivfpq = graft.ops.ClusterOps.pqTopKIvf(pts, dim = 64, m = 4, ksub = 3,
      kc = 3, nprobe = 1, iters = 2, k = 5, nQueries = 6).collect()
      .map(r => (r.getLong(0), r.getLong(2))).groupBy(_._1)
    val scale = 1048576.0
    val all = pts.collect().map { r =>
      r.getLong(0) -> r.getSeq[Float](1).map(x =>
        math.floor(x.toDouble * scale)).toArray
    }
    (0L until 6L).foreach { q =>
      val qv = all.find(_._1 == q).get._2
      def dd(a: Array[Double], b: Array[Double]) =
        a.indices.foldLeft(0.0)((acc, i) => acc + (a(i) - b(i)) * (a(i) - b(i)))
      val exact = all.filter(_._1 != q)
        .map { case (id, v) => (dd(qv, v), id) }.sorted.take(5).map(_._2).toSet
      assert(ivfpq(q).map(_._2).toSet === exact, s"query $q recall < 1")
    }
  }

  test("residual ivf-pq: neighbors come only from probed cells; residual ADC exact on planted clusters") {
    // planted well-separated clusters (same construction as the ivf-pq
    // case): at nprobe=1 the probed cell is the query's own cluster, so
    // every returned neighbor must share the query's id % 3 class
    val pts = spark.range(120).selectExpr(
      "id as vec_id",
      """transform(sequence(0, 63), j -> cast(
        |  case when cast(j as bigint) % 3 = id % 3 then 50.0 else 0.0 end
        |  + cast(id as double) / 1000.0 as float)) as embedding""".stripMargin)
    val res = graft.ops.ClusterOps.pqTopKIvfRes(pts, dim = 64, m = 4, ksub = 3,
      kc = 3, nprobe = 1, iters = 2, k = 5, nQueries = 6).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(res.nonEmpty)
    res.groupBy(_._1).foreach { case (q, rows) =>
      assert(rows.length <= 5)
      assert(rows.map(_._2).sorted.toSeq === (1L to rows.length).toSeq,
        s"ranks not contiguous for query $q")
      rows.foreach { case (_, _, nid) =>
        assert(nid % 3 === q % 3, s"query $q got neighbor $nid outside its cell")
      }
    }
    // residual coding must be at least as faithful as raw-vector coding
    // here: within a planted cluster the raw vectors are nearly identical,
    // so their residuals carry ALL the discriminating signal
    val raw = graft.ops.ClusterOps.pqTopKIvf(pts, dim = 64, m = 4, ksub = 3,
      kc = 3, nprobe = 1, iters = 2, k = 5, nQueries = 6).collect()
    assert(raw.nonEmpty)
  }

  /** Runs `body` under job group `group`; returns its outcome, the jobs
    * that started meanwhile as (job id, job group), and the ids of those
    * that had ended by the time it returned. The listener bus is
    * asynchronous and in order: once a later marker job's start arrives,
    * every earlier event has arrived too. */
  private def jobsDuring[T](group: String)(
      body: => T): (scala.util.Try[T], Seq[(Int, String)], Set[Int]) = {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
    val sc = spark.sparkContext
    val started = new java.util.concurrent.ConcurrentLinkedQueue[(Int, String)]
    val ended = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        started.add(e.jobId -> String.valueOf(e.properties.getProperty("spark.jobGroup.id")))
      override def onJobEnd(e: SparkListenerJobEnd): Unit = ended.add(e.jobId)
    }
    def underGroup[A](g: String)(a: => A): A = {
      sc.setJobGroup(g, g)
      try a finally sc.clearJobGroup()
    }
    val marker = s"$group-marker"
    sc.addSparkListener(listener)
    try {
      val out = scala.util.Try(underGroup(group)(body))
      underGroup(marker)(sc.parallelize(Seq(1), 1).count())
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      def drained = started.asScala.exists(_._2 == marker)
      while (!drained && System.nanoTime() < deadline) Thread.sleep(10)
      assert(drained, "listener bus did not drain")
      val jobs = started.asScala.toSeq.filterNot(_._2 == marker)
      (out, jobs, jobs.map(_._1).filter(ended.contains).toSet)
    } finally sc.removeSparkListener(listener)
  }

  test("residual ivf-pq side-thread jobs carry the calling query's job group") {
    val pts = spark.range(60).selectExpr("id as vec_id",
      "transform(sequence(0, 7), j -> cast((id * 7 + j * 13) % 17 as float)) as embedding")
    def search(): Unit = graft.ops.ClusterOps.pqTopKIvfRes(pts, dim = 8, m = 2,
      ksub = 3, kc = 3, nprobe = 1, iters = 1, k = 3, nQueries = 4).collect()
    jobsDuring("g1")(search())._1.get
    val (out, jobs, _) = jobsDuring("g2")(search())
    out.get
    val seen = jobs.map(_._2)
    assert(seen.nonEmpty && seen.forall(_ == "g2"),
      s"jobs of the g2 call ran under groups ${seen.groupBy(identity).map { case (g, js) => s"$g×${js.size}" }}")
  }

  test("residual ivf-pq: a failing driver-thread chain leaves no side job running") {
    // the side task quantizes only the query rows (vec_id < 4) and row 0
    // takes two seconds; corpus row 50 raises, so the driver-thread fit
    // fails while the side job still runs — the call must cancel it and
    // wait for it before the error propagates
    val slow = udf { (id: Long) => if (id == 0L) Thread.sleep(2000); id }
    val pts = spark.range(60)
      .select(col("id").as("vec_id"),
        when(col("id") === 50, raise_error(lit("corpus row 50"))).otherwise(slow(col("id"))).as("s"))
      .selectExpr("vec_id",
        "transform(sequence(0, 7), j -> cast((s * 7 + j * 13) % 17 as float)) as embedding")
    val (out, jobs, ended) = jobsDuring("ivfres-fail")(graft.ops.ClusterOps.pqTopKIvfRes(
      pts, dim = 8, m = 2, ksub = 3, kc = 3, nprobe = 1, iters = 1, k = 3, nQueries = 4).collect())
    val err = out.failed.get
    assert(Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
      .exists(e => String.valueOf(e.getMessage).contains("corpus row 50")), err)
    assert(jobs.size >= 2, s"expected the side job and the failing fit job, saw $jobs")
    assert(jobs.forall(j => ended.contains(j._1)),
      s"jobs still running after the call failed: ${jobs.filterNot(j => ended.contains(j._1))}")
    spark.catalog.clearCache()
  }

  test("3-D z-order layout: partitions bound ALL THREE dimensions") {
    import org.apache.spark.sql.functions.{col => fcol}
    val l = Tables.load(spark, sfDir, "lineitem")
      .select("l_partkey", "l_suppkey", "l_orderkey")
    def extents(df: org.apache.spark.sql.DataFrame): (Double, Double, Double) = {
      val r = df.selectExpr("spark_partition_id() as pid",
          "l_partkey", "l_suppkey", "l_orderkey")
        .groupBy("pid")
        .agg(expr("max(l_partkey) - min(l_partkey)").as("dx"),
          expr("max(l_suppkey) - min(l_suppkey)").as("dy"),
          expr("max(l_orderkey) - min(l_orderkey)").as("dz"))
        .selectExpr("avg(cast(dx as double))", "avg(cast(dy as double))",
          "avg(cast(dz as double))")
        .collect()(0)
      (r.getDouble(0), r.getDouble(1), r.getDouble(2))
    }
    val b = l.selectExpr("max(l_partkey)", "max(l_suppkey)", "max(l_orderkey)").collect()(0)
    val (gx, gy, gz) = (b.getLong(0).toDouble, b.getLong(1).toDouble, b.getLong(2).toDouble)
    val z3 = graft.ops.LayoutOps.zOrder3(l, "l_partkey", "l_suppkey", "l_orderkey",
      bitsPerDim = 10, numPartitions = 32)
    val (zx, zy, zz) = extents(z3)
    // the x-only sort leaves y and z unbounded in every partition…
    val xSorted = l.repartitionByRange(32, fcol("l_partkey"))
      .sortWithinPartitions("l_partkey")
    val (_, sy, sz) = extents(xSorted)
    assert(sy / gy > 0.9 && sz / gz > 0.9,
      s"x-sort should span y and z fully (got ${sy / gy}, ${sz / gz})")
    // …while the 3-D curve bounds all three (each worse than a dedicated
    // sort on that one column, but bounded — the any-column pruning win)
    assert(zx / gx < 0.7, s"zorder3 should bound x (got ${zx / gx})")
    assert(zy / gy < 0.7, s"zorder3 should bound y (got ${zy / gy})")
    assert(zz / gz < 0.7, s"zorder3 should bound z (got ${zz / gz})")
    assert(z3.count() === l.count())
  }

  test("z-order layout: partitions bound BOTH dimensions; a single-column sort bounds only one") {
    val l = Tables.load(spark, sfDir, "lineitem").select("l_partkey", "l_suppkey")
    // per-partition normalized extent of each dimension, averaged; the
    // metric a min/max-pruned scan actually sees
    def extents(df: org.apache.spark.sql.DataFrame): (Double, Double) = {
      val r = df.selectExpr("spark_partition_id() as pid", "l_partkey", "l_suppkey")
        .groupBy("pid")
        .agg(org.apache.spark.sql.functions.expr("max(l_partkey) - min(l_partkey)").as("dx"),
          org.apache.spark.sql.functions.expr("max(l_suppkey) - min(l_suppkey)").as("dy"))
        .selectExpr("avg(cast(dx as double)) as ax", "avg(cast(dy as double)) as ay")
        .collect()(0)
      (r.getDouble(0), r.getDouble(1))
    }
    val bounds = l.selectExpr("max(l_partkey) as mx", "max(l_suppkey) as my").collect()(0)
    val (gx, gy) = (bounds.getLong(0).toDouble, bounds.getLong(1).toDouble)
    val zed = graft.ops.LayoutOps.zOrder(l, "l_partkey", "l_suppkey",
      bitsPerDim = 10, numPartitions = 32)
    val xSorted = l.repartitionByRange(32, org.apache.spark.sql.functions.col("l_partkey"))
      .sortWithinPartitions("l_partkey")
    val (zx, zy) = extents(zed)
    val (sx2, sy2) = extents(xSorted)
    // the x-only sort leaves the y dimension unbounded in every partition…
    assert(sy2 / gy > 0.9, s"x-sort should span y fully (got ${sy2 / gy})")
    // …while the z-curve bounds both (worse on x than the pure sort, but
    // bounded on y too — that's the either-column pruning win)
    assert(zy / gy < 0.6, s"z-order should bound y (got ${zy / gy})")
    assert(zx / gx < 0.6, s"z-order should keep x bounded too (got ${zx / gx})")
    // and the re-layout is a permutation, not a transformation
    assert(zed.count() === l.count())
    // the Hilbert layout bounds both dimensions at least as tightly in
    // aggregate — its curve has no diagonal corner-to-corner jumps, so
    // contiguous segments are tighter rectangles (10% slack: at a fixed
    // partition count the two curves' cuts land differently per dim)
    val hil = graft.ops.LayoutOps.hilbertOrder(l, "l_partkey", "l_suppkey",
      bitsPerDim = 10, numPartitions = 32)
    val (hx, hy) = extents(hil)
    assert(hx / gx < 0.6 && hy / gy < 0.6,
      s"hilbert must bound both dims (got ${hx / gx}, ${hy / gy})")
    assert(hx + hy <= (zx + zy) * 1.1,
      s"hilbert total extent ${hx + hy} should not exceed z-order ${zx + zy}")
    assert(hil.count() === l.count())
  }

  test("textrank: hub token dominates a star graph; integer ranks are partitioning-invariant; mass conserved") {
    val docs = spark.range(20).selectExpr("id as doc_id",
      "concat('hub w', cast(id % 7 as string), ' hub w', cast(id % 5 as string)) as text")
    val top = graft.ops.GraphOps.textRank(docs, iters = 10, k = 3).collect()
    assert(top.head.getString(0) === "hub", s"star hub must rank first: ${top.toSeq}")
    val again = graft.ops.GraphOps.textRank(docs.repartition(13), iters = 10, k = 3)
      .collect()
    assert(top.map(r => (r.getString(0), r.getLong(1))).toSeq ===
      again.map(r => (r.getString(0), r.getLong(1))).toSeq,
      "ranks changed under repartitioning")
    // no dangling nodes in an undirected graph → only div-truncation leaks;
    // total fixed-point mass stays within a few percent of the scale
    val all = graft.ops.GraphOps.textRank(docs, iters = 10, k = 1000).collect()
    val mass = all.map(_.getLong(1)).sum.toDouble
    val s = (1L << 40).toDouble
    assert(mass <= s && mass > 0.9 * s, s"rank mass ${mass / s} of scale")
  }

  test("pageRank: size-gated broadcast path equals the shuffle path exactly") {
    // the r20 join-strategy gate (broadcastMaxNodes) must be invisible in
    // the output: both paths run the same integer fixed-point arithmetic,
    // only the join physical strategy differs. Star + chain + cycle mix so
    // ranks are non-uniform and multi-round.
    val edges = spark.range(40).selectExpr(
        "concat('n', cast(id % 9 as string)) as src",
        "concat('n', cast((id * 7 + 3) % 11 as string)) as dst",
        "(id % 3) + 1 as w")
      .filter("src <> dst")
    val bcast = graft.ops.GraphOps.pageRank(edges, iters = 6).collect()
      .map(r => (r.getString(0), r.getLong(1))).sortBy(_._1).toSeq
    val shuf = graft.ops.GraphOps.pageRank(edges, iters = 6,
        broadcastMaxNodes = 0L).collect()
      .map(r => (r.getString(0), r.getLong(1))).sortBy(_._1).toSeq
    assert(bcast === shuf, "broadcast-gated pageRank diverged from shuffle path")
  }

  test("lm score: predictable text outscores gibberish; short docs carry NULL") {
    // 20 docs share one phrasing (their bigrams dominate the model), one
    // doc is unique gibberish, one has a single token (no bigrams)
    val docs = spark.range(22).selectExpr("id as doc_id",
      """case when id < 20 then 'the cat sat on the mat'
        |     when id = 20 then 'zq xv qj vk wx kz'
        |     else 'solo' end as text""".stripMargin)
    val r = graft.ops.TextOps.lmScore(docs).collect()
      .map(x => x.getLong(0) -> (if (x.isNullAt(2)) None else Some(x.getDouble(2))))
      .toMap
    assert(r(0L).get > r(20L).get,
      s"fluent ${r(0L)} should outscore gibberish ${r(20L)}")
    assert(r(21L).isEmpty, "a one-token doc has no bigrams -> NULL score")
    // every conditional is a probability -> the mean stays in (0, 1]
    r.values.flatten.foreach(v => assert(v > 0.0 && v <= 1.0))
  }

  test("spearman: exactly ±1 on monotone pairs; fixture rhos bounded") {
    val df = spark.range(100).selectExpr("cast(id as double) as a",
      "cast(id * id as double) as b", "cast(0 - id as double) as c")
    val r = graft.ops.ProfileOps.spearmanCorr(df, Seq("a", "b", "c")).collect()
      .map(x => ((x.getString(0), x.getString(1)), x.getDouble(2))).toMap
    assert(math.abs(r(("a", "b")) - 1.0) < 1e-12)
    assert(math.abs(r(("a", "c")) + 1.0) < 1e-12)
    assert(math.abs(r(("b", "c")) + 1.0) < 1e-12)
    val fixture = graft.ops.ProfileOps.spearmanCorr(
      Tables.load(spark, sfDir, "lineitem"),
      Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")).collect()
    assert(fixture.length === 6)
    fixture.foreach(x => assert(math.abs(x.getDouble(2)) <= 1.0 + 1e-12,
      s"|rho| > 1 for ${x.getString(0)}/${x.getString(1)}"))
  }

  test("heavy hitters: exact despite MG pruning, partitioning-invariant, capacity-guarded") {
    // 100 distinct noise tokens force eviction churn in a k=10 summary;
    // the rescore pass must still return the exact ≥25 set
    val noise = (1 to 100).map(i => s"n$i")
    val heavy = Seq.fill(50)("h1") ++ Seq.fill(40)("h2") ++ Seq.fill(30)("h3")
    val text = new scala.util.Random(42).shuffle(noise ++ heavy).mkString(" ")
    val d = Seq((1L, text)).toDF("doc_id", "text")
    // N = 220, share 0.11 → threshold ⌈24.2⌉ = 25; default k = ⌈1/0.11⌉ = 10
    val out = graft.ops.SketchOps.heavyHitters(d, minShare = 0.11)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(out.toSeq === Seq(("h1", 50L), ("h2", 40L), ("h3", 30L)))
    val repart = graft.ops.SketchOps
      .heavyHitters(d.selectExpr("doc_id", "explode(split(text, ' ')) as text")
        .repartition(13), minShare = 0.11)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(repart.toSeq === out.toSeq)
    // an explicit under-capacity k must raise, not silently under-report
    intercept[IllegalArgumentException] {
      graft.ops.SketchOps.heavyHitters(d, minShare = 0.11, k0 = 5).collect()
    }
  }

  test("packing: per-lang exclusive prefix offsets and budget-boundary bins") {
    def toks(n: Int) = (1 to n).map(i => s"t$i").mkString(" ")
    val d = Seq(
      (1L, toks(6), "en"),   // en stream: 6 + 6 tokens, budget 8
      (2L, toks(6), "en"),   //   → offsets 0, 6; bins 0, 0 (6 < 8 ≤ 12)
      (3L, toks(9), "en"),   //   → offset 12, bin 1
      (4L, toks(5), "fr")    // fr stream packs independently from 0
    ).toDF("doc_id", "text", "lang")
    val out = graft.ops.TextOps.packBins(d, size = 16, stride = 16, budget = 8)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(3), r.getLong(4), r.getLong(5)))
    assert(out.toSeq === Seq(
      ("en", 1L, 6L, 0L, 0L),
      ("en", 2L, 6L, 6L, 0L),
      ("en", 3L, 9L, 12L, 1L),
      ("fr", 4L, 5L, 0L, 0L)))
  }

  test("chunking: overlap, short-doc, exact-fit and covered-tail cases") {
    def toks(n: Int) = (1 to n).map(i => s"t$i").mkString(" ")
    val d = Seq(
      (1L, toks(5)),    // shorter than size → one whole chunk
      (2L, toks(8)),    // exact fit (size 8) → one chunk, no redundant tail
      (3L, toks(14))    // [0,8) + tail [6,14) with stride 6
    ).toDF("doc_id", "text")
    val out = graft.ops.TextOps.chunk(d, size = 8, stride = 6).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    assert(out.toSeq === Seq(
      (1L, 0L, toks(5), 5L),
      (2L, 0L, toks(8), 8L),
      (3L, 0L, toks(8), 8L),
      (3L, 1L, (7 to 14).map(i => s"t$i").mkString(" "), 8L)))
  }

  test("curate pipeline: quality-drops, decontaminates, scrubs and dedups in one pass") {
    val filler = (1 to 30).map(i => s"f$i").mkString(" ")
    val passage = (1 to 10).map(i => s"bench$i").mkString(" ")
    val d = Seq(
      (0L, passage),                        // the benchmark slice (0 % 7 == 0)
      (1L, s"$filler $passage"),            // contaminated → passage cut out
      (3L, "tiny doc"),                     // too short → quality-dropped
      (4L, s"$filler bob@x.com"),           // dup pair AFTER scrubbing:
      (11L, s"$filler alice@y.org")         //   both end in <EMAIL> → keep 4
    ).toDF("doc_id", "text")
    val out = graft.ops.PipelineOps.curate(d, minQuality = 0.25, benchMod = 7, n = 8)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq === Seq(
      (1L, filler, 10L, 30L),
      (4L, s"$filler <email>", 0L, 31L)))
  }

  test("profile: histogram buckets, null handling and the constant-column edge") {
    val d = Seq[(java.lang.Double, java.lang.Double)](
      (0.0, 7.0), (1.0, 7.0), (5.0, 7.0), (10.0, 7.0), (null, 7.0)
    ).toDF("x", "c")
    val out = graft.ops.ProfileOps.profile(d, Seq("x", "c"), nBuckets = 10)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getDouble(6), r.getDouble(7)))
    val x = out.filter(_._1 == "x")
    // 0 → bucket 0, 1 → bucket 1, 5 → bucket 5, 10 (the max) clamps to 9
    assert(x.map(r => (r._2, r._3)).toSeq === Seq((0L, 1L), (1L, 1L), (5L, 1L), (9L, 1L)))
    assert(x.head._4 === 5L && x.head._5 === 1L && x.head._6 === 4L) // n_rows, n_null, ndv
    val c = out.filter(_._1 == "c")
    assert(c.map(r => (r._2, r._3)).toSeq === Seq((0L, 5L))) // constant → one bucket
  }

  test("bm25 ranks full-match short docs above partial/longer matches") {
    val d = Seq(
      (0L, "apple banana cherry"),                    // the query doc
      (1L, "apple banana cherry date egg fig"),       // all terms, longer
      (2L, "apple zebra yam xylophone"),              // one (weak-idf) term
      (3L, "zebra yam xylophone waffle")              // no match
    ).toDF("doc_id", "text")
    val out = graft.ops.TextOps.bm25TopK(d, nQueries = 1, qLen = 8, k = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(out.map(_._3).toSeq === Seq(0L, 1L, 2L),
      s"ranking wrong: ${out.toSeq}") // doc 3 matches nothing → absent
    assert(out.map(_._2).toSeq === Seq(1L, 2L, 3L))
    assert(out.map(_._4).toSeq === out.map(_._4).sorted.reverse.toSeq)
  }

  test("inverted index: tf and ordered positions for planted repeats") {
    val d = Seq(
      (1L, "a b a c a"),
      (2L, "c B b")   // case-folds: B → b
    ).toDF("doc_id", "text")
    val out = graft.ops.TextOps.invertedIndex(d).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(out.toSeq === Seq(
      ("a", 1L, 3L, "0,2,4"),
      ("b", 1L, 1L, "1"),
      ("b", 2L, 2L, "1,2"),
      ("c", 1L, 1L, "3"),
      ("c", 2L, 1L, "0")))
  }

  test("pii scrub redacts planted emails, IPs and phones, counts on the original") {
    val d = Seq(
      (1L, "mail a.b+c@sub.example.org and x@1.2.3.4 here"),   // email + dotted quad
      (2L, "server 192.168.0.1 then 10.0.0.255 done"),          // 2 IPs
      (3L, "call +4915112345678 now"),                          // 1 phone
      (4L, "nothing to see 1234 www.example (at) dot")          // clean
    ).toDF("doc_id", "text")
    val out = graft.ops.TextOps.piiScrub(d).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))
    assert(out.toSeq === Seq(
      // x@1.2.3.4 is NOT an email (no alphabetic TLD) — its quad scrubs as an IP
      (1L, 1L, 1L, 0L, "mail <EMAIL> and x@<IP> here"),
      (2L, 0L, 2L, 0L, "server <IP> then <IP> done"),
      (3L, 0L, 0L, 1L, "call <PHONE> now"),
      (4L, 0L, 0L, 0L, "nothing to see 1234 www.example (at) dot")))
  }

  test("interval join rejects reserved column names") {
    val df = Seq((1L, 2L)).toDF("v", "__bkt")
    intercept[IllegalArgumentException] {
      graft.ops.RangeJoinOps.intervalJoin(df, df, "v", "v", "v", 7, identity)
    }
  }

  test("stratified sample rejects reserved/colliding column names") {
    val df = spark.range(10).selectExpr("id as doc_id", "'x' as rn")
    intercept[IllegalArgumentException] {
      graft.ops.PipelineOps.stratifiedSample(df, Seq("rn"), 1)
    }
    intercept[IllegalArgumentException] {
      graft.ops.PipelineOps.stratifiedSample(df, Seq("doc_id"), 1)
    }
  }

  test("c4 filter: line retention, sentence gate, blacklist, empty-page edge") {
    val d = Seq(
      // two good lines + one short line (dropped) → 2 kept, 2 sentences → drop (needs 3)
      (1L, "this line has five words.\nhi there.\nanother line with enough words!"),
      // three good sentences on three lines → keep
      (2L, "one two three four five.\nsix seven eight nine ten?\nmore words to make it pass!"),
      // blacklisted page: enough sentences but contains a brace
      (3L, "one two three four five.\nsix seven eight nine { ten.\nmore words to make it pass."),
      // no line survives → clean_text empty, kept_lines 0
      (4L, "short\nalso short\ntiny")
    ).toDF("doc_id", "text")
    val out = graft.ops.TextOps.c4Filter(d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getInt(4), r.getInt(5), r.getString(6)))
    assert(out.toSeq === Seq(
      (1L, 3L, 2L, 2L, 0, 0,
        "this line has five words.\nanother line with enough words!"),
      (2L, 3L, 3L, 3L, 0, 1,
        "one two three four five.\nsix seven eight nine ten?\nmore words to make it pass!"),
      (3L, 3L, 3L, 3L, 1, 0,
        "one two three four five.\nsix seven eight nine { ten.\nmore words to make it pass."),
      (4L, 3L, 0L, 0L, 0, 0, "")))
  }

  test("cdc chunks: lossless reconstruction; head edit leaves interior chunk hashes intact") {
    val docs = Tables.load(spark, sfDir, "documents")
    val out = graft.ops.TextOps.cdcChunks(docs, window = 8, modulus = 32)
    // chunks tile the document exactly: concat in chunk_idx order == text
    val rebuilt = out.groupBy("doc_id")
      .agg(expr("array_join(transform(array_sort(collect_list(struct(chunk_idx, chunk_text))), c -> c.chunk_text), '')").as("rebuilt"))
      .join(docs, "doc_id")
      .filter(expr("rebuilt <> text"))
    assert(rebuilt.count() === 0)
    // edit locality: prepending a prefix re-chunks only the head — interior
    // chunk hashes (all but first/last per doc) survive verbatim
    val edited = graft.ops.TextOps.cdcChunks(
      docs.selectExpr("doc_id", "concat('EDIT HEAD ', text) as text"),
      window = 8, modulus = 32)
    def interior(df: org.apache.spark.sql.DataFrame) = df
      .withColumn("mx", max("chunk_idx").over(
        org.apache.spark.sql.expressions.Window.partitionBy("doc_id")))
      .filter(col("chunk_idx") =!= 1 && col("chunk_idx") =!= col("mx"))
      .select("doc_id", "chunk_hash")
    val orig = interior(out.toDF()).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val after = interior(edited.toDF()).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(orig.nonEmpty)
    val survived = orig.intersect(after).size.toDouble / orig.size
    assert(survived > 0.9, s"only ${survived * 100}%% of interior chunks survived a head edit")
  }

  test("cdc dedup: an exact duplicate document is entirely duplicate bytes; the original is clean") {
    import org.apache.spark.sql.functions.expr
    // no repeated span INSIDE the doc (intra-doc repetition would be
    // honest duplicate bytes too, but this test isolates cross-doc dup)
    val base = (0 until 60).map(i => s"token$i").mkString(" ") + " "
    val d = Seq(
      (1L, base),
      (2L, base), // verbatim duplicate of doc 1
      (3L, "completely different text with no shared spans whatsoever here okay")
    ).toDF("doc_id", "text")
    val out = graft.ops.TextOps.cdcDedup(d, window = 8, modulus = 32).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toList
    val byDoc = out.map(t => t._1 -> t).toMap
    // doc 1 owns every chunk (lowest doc_id): zero duplicates
    assert(byDoc(1L)._4 === 0L && byDoc(1L)._5 === 0L)
    // doc 2 re-chunks to identical hashes: ALL its bytes are duplicate
    assert(byDoc(2L)._4 === byDoc(2L)._2, s"doc 2 should be all-dup: ${byDoc(2L)}")
    assert(byDoc(2L)._5 === byDoc(2L)._3)
    assert(byDoc(2L)._3 === base.length.toLong) // chunks tile the text
    // doc 3 shares nothing
    assert(byDoc(3L)._4 === 0L && byDoc(3L)._5 === 0L)
  }

  test("ams f2: exact on a single-value group; linear across a corpus split") {
    import graft.ops.SketchOps
    // one distinct value with frequency 100: every S_j = ±100, so the
    // mean of squares is EXACTLY 100² = F2 — no estimator variance
    val one = spark.range(100).selectExpr("'g' as grp", "'only' as v")
    val o = SketchOps.amsF2(one, "grp", "v", r = 16).collect()(0)
    assert(o.getLong(1) === 10000L && o.getDouble(2) === 10000.0)
    // linearity: the r-counter sketch of a union is the vector SUM of the
    // parts' sketches — the merge rule that lets per-partition sketches
    // combine without rescanning
    val a = spark.range(0, 500).selectExpr("'g' as grp", "cast(id % 37 as string) as v")
    val b = spark.range(500, 1000).selectExpr("'g' as grp", "cast(id % 37 as string) as v")
    val full = spark.range(0, 1000).selectExpr("'g' as grp", "cast(id % 37 as string) as v")
    def vec(df: org.apache.spark.sql.DataFrame) = SketchOps.amsSketch(df, "grp", "v", 16)
      .collect().map(r => (r.getInt(1), r.getLong(2))).toMap
    val (va, vb, vf) = (vec(a), vec(b), vec(full))
    (0 until 16).foreach { j =>
      assert(va(j) + vb(j) === vf(j), s"counter $j not additive")
    }
    // and the fixture estimate is a sane F2 estimate (within 5/sqrt(r) rel)
    val ev = SketchOps.amsF2(full, "grp", "v", r = 16).collect()(0)
    val rel = math.abs(ev.getDouble(2) - ev.getLong(1)) / ev.getLong(1)
    assert(rel < 5.0 / math.sqrt(16.0), s"AMS rel error $rel out of bounds")
  }

  test("quantile histogram: within one step of the exact sort; histograms add bucket-wise") {
    import graft.ops.SketchOps
    val events = Tables.load(spark, sfDir, "events").select("event_type", "value")
    val (lo, hi, nb) = (0.0, 512.0, 128)
    val step = (hi - lo) / nb
    val est = SketchOps.quantileHist(events, "event_type", "value", lo, hi, nb)
      .collect().map(r => r.getString(0) -> (r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    // exact DISCRETE order statistics (the ⌈q·n⌉-th smallest — the value
    // the histogram estimate brackets; the interpolated `percentile` can
    // sit a sparse-tail jump away and is NOT the estimator's target)
    val byGrp = events.collect()
      .map(r => (r.getString(0), r.getDouble(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    def kth(vs: Array[Double], q: Double): Double =
      vs(math.ceil(q * vs.length).toInt - 1)
    val exact = byGrp.map { case (g, vs) =>
      g -> (kth(vs, 0.5), kth(vs, 0.9), kth(vs, 0.99)) }.toMap
    assert(est.nonEmpty && est.keySet === exact.keySet)
    est.foreach { case (g, (e50, e90, e99)) =>
      val (x50, x90, x99) = exact(g)
      // the estimate is the covering bucket's upper edge: never below the
      // true value, and at most one bucket width above it
      assert(e50 >= x50 - 1e-9 && e50 - x50 <= step + 1e-9, s"$g p50: $e50 vs $x50")
      assert(e90 >= x90 - 1e-9 && e90 - x90 <= step + 1e-9, s"$g p90: $e90 vs $x90")
      assert(e99 >= x99 - 1e-9 && e99 - x99 <= step + 1e-9, s"$g p99: $e99 vs $x99")
    }
    // mergeability: bucket counts of a union are the SUM of the parts'
    // bucket counts — the declared-grid property that lets per-partition
    // histograms combine without rescanning
    val a = events.filter("value < 100")
    val b = events.filter("value >= 100")
    def histMap(df: org.apache.spark.sql.DataFrame) = df
      .selectExpr("event_type as grp",
        s"least(greatest(cast(floor((value - $lo) / $step) as bigint), 0), ${nb - 1}) as bucket")
      .groupBy("grp", "bucket").count()
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    val (ha, hb, hf) = (histMap(a), histMap(b), histMap(events))
    hf.foreach { case (k, c) =>
      assert(ha.getOrElse(k, 0L) + hb.getOrElse(k, 0L) === c, s"bucket $k not additive")
    }
  }

  test("t-digest: rank bound holds under any partitioning; exact columns equal the sort; state O(δ)") {
    import graft.ops.SketchOps
    val qs = Seq(0.5, 0.9, 0.99)
    val events = Tables.load(spark, sfDir, "events").select("event_type", "value")
    val out = SketchOps.tdigestQuantiles(events, "event_type", "value", qs, delta = 100)
      .collect()
    assert(out.nonEmpty)
    // every certification boolean TRUE — the same flags the gate hashes
    out.foreach(r => (5 to 7).foreach(i =>
      assert(r.getBoolean(i), s"${r.getString(0)}: bound flag $i false")))
    // exact columns are the CONT percentiles of a driver-side sort
    val byGrp = events.filter("value is not null").collect()
      .map(r => (r.getString(0), r.getDouble(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    def cont(vs: Array[Double], q: Double): Double = {
      val pos = q * (vs.length - 1)
      val (lo, hi) = (vs(math.floor(pos).toInt), vs(math.ceil(pos).toInt))
      if (math.floor(pos) == math.ceil(pos)) lo
      else (math.ceil(pos) - pos) * lo + (pos - math.floor(pos)) * hi
    }
    out.foreach { r =>
      val vs = byGrp(r.getString(0))
      Seq(0.5, 0.9, 0.99).zipWithIndex.foreach { case (q, i) =>
        assert(r.getDouble(1 + i) === cont(vs, q),
          s"${r.getString(0)} q=$q exact column diverged") }
    }
    // approximate mergeability: a different partitioning merges digests in
    // a different order — estimates may differ, the rank BOUND may not
    val rep = SketchOps.tdigestQuantiles(events.repartition(13),
      "event_type", "value", qs, delta = 100).collect()
    rep.foreach(r => (5 to 7).foreach(i =>
      assert(r.getBoolean(i), s"${r.getString(0)}: bound flag $i false after repartition")))
    // bounded state: the digest summarizes every group in O(δ) centroids
    // (k₁'s span is δ/2, adjacent kept centroids each advance it, so ≤ ~δ;
    // assert the hard 2δ ceiling), and n equals the group's row count
    val shapes = events.filter("value is not null")
      .selectExpr("event_type as g", "cast(value as double) as v")
      .groupBy("g").agg(SketchOps.tdigestUdaf(100, qs)(col("v")).as("td"))
      .selectExpr("g", "td.n", "td.n_centroids").collect()
    val nByGrp = byGrp.view.mapValues(_.length.toLong).toMap
    shapes.foreach { r =>
      assert(r.getLong(1) === nByGrp(r.getString(0)), s"${r.getString(0)}: n diverged")
      assert(r.getInt(2) > 0 && r.getInt(2) <= 200,
        s"${r.getString(0)}: ${r.getInt(2)} centroids breaks the O(δ) contract")
    }
  }

  test("kmv sketch: exact under capacity, bounded error above it, mergeable") {
    import graft.ops.SketchOps
    // under capacity: 5 distinct values, k=16 → est == exact == 5
    val small = spark.range(100).selectExpr("'g' as grp", "cast(id % 5 as string) as v")
    val u = SketchOps.kmvDistinct(small, "grp", "v", k = 16).collect()(0)
    assert(u.getLong(1) === 5L && u.getLong(2) === 5L && u.getDouble(4) === 5.0)
    // above capacity: 2000 distinct, k=256 → relative error well inside 5σ (σ≈1/√(k−2))
    val big = spark.range(6000).selectExpr("'g' as grp", "cast(id % 2000 as string) as v")
    val b = SketchOps.kmvDistinct(big, "grp", "v", k = 256).collect()(0)
    val rel = math.abs(b.getDouble(4) - 2000.0) / 2000.0
    assert(rel < 5.0 / math.sqrt(254.0), s"KMV rel error $rel out of bounds")
    // mergeable: union of two halves' k-min sets, re-take-k, equals the
    // sketch of the union — the property that makes it a sketch
    val h1 = spark.range(0, 3000).selectExpr("'g' as grp", "cast(id % 2000 as string) as v")
    val h2 = spark.range(3000, 6000).selectExpr("'g' as grp", "cast(id % 2000 as string) as v")
    def kmins(df: org.apache.spark.sql.DataFrame) = df
      .selectExpr(s"${graft.ops.TextOps.h60("v")} as h").distinct()
      .orderBy("h").limit(256).collect().map(_.getLong(0)).toSeq
    val merged = (kmins(h1) ++ kmins(h2)).distinct.sorted.take(256)
    assert(merged === kmins(big))
    assert(merged.max === b.getLong(3))
  }

  test("bpe train: hand-computed merge sequence on the Sennrich corpus shape") {
    // low(2) lower(1) lowest(1): "l o" ties "o w" at 4 → lexicographic
    // winner "l o"; then "lo w"(4), "low e"(2), and at all-ties-1 the
    // lexicographically smallest pair "lowe r".
    val d = docsDF(1L -> "low lower lowest low")
    val m = TextOps.bpeTrain(d, rounds = 4).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3), r.getLong(4)))
    assert(m.toSeq === Seq(
      (1L, "l", "o", "lo", 4L),
      (2L, "lo", "w", "low", 4L),
      (3L, "low", "e", "lowe", 2L),
      (4L, "lowe", "r", "lower", 1L)))
    val enc = TextOps.bpeEncode(d, rounds = 4).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getString(3))).toSeq
    assert(enc === Seq(
      ("low", 2L, 1L, "low"),
      ("lower", 1L, 1L, "lower"),
      ("lowest", 1L, 3L, "lowe s t")))
  }

  test("bpe merge application is greedy non-overlapping (aaa -> [aa, a])") {
    val d = docsDF(1L -> "aaa abab")
    // round 1: pairs "a a" (2 from aaa), "a b" (2 from abab), "b a" (1)
    // → tie at 2, "a a" < "a b" wins; aaa fuses left-to-right to [aa, a].
    val m1 = TextOps.bpeTrain(d, rounds = 1).collect()(0)
    assert((m1.getString(1), m1.getString(2), m1.getLong(4)) === (("a", "a", 2L)))
    val enc = TextOps.bpeEncode(d, rounds = 1).collect()
      .map(r => (r.getString(0), r.getString(3))).toSeq
    assert(enc === Seq(("aaa", "aa a"), ("abab", "a b a b")))
    // round 2 on abab: "a b" (2) wins and BOTH occurrences fuse in one
    // pass — the double-space join leaves the second match its separator.
    val enc2 = TextOps.bpeEncode(d, rounds = 2).collect()
      .map(r => (r.getString(0), r.getString(3))).toSeq
    assert(enc2 === Seq(("aaa", "aa a"), ("abab", "ab ab")))
  }

  test("fuzzy words: deletion blocking finds insert/delete/substitute pairs, filter kills dist-2") {
    val d = docsDF(1L -> "color colour colr colour")
    val out = TextOps.fuzzyWords(d, minLen = 4).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
    assert(out === Seq(
      ("color", "colour", 1L, 1L, 2L),
      ("color", "colr", 1L, 1L, 1L)))
    // "ab"/"ba" share deletion variants but sit at distance 2 — the exact
    // verify step must reject what the blocking admits
    val falseCand = TextOps.fuzzyWords(docsDF(1L -> "ab ba"), minLen = 2).collect()
    assert(falseCand.isEmpty)
  }

  test("triangles: degree-oriented enumeration equals the naive 3-way join") {
    import graft.ops.GraphOps
    // hand case: one triangle plus a dangling edge
    val small = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L)).toDF("a", "b")
    assert(GraphOps.triangles(small).collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq === Seq((1L, 2L, 3L)))
    // deterministic pseudo-random graph incl. a hub: compare against an
    // in-engine naive id-ordered 3-way join
    val e = spark.range(400)
      .selectExpr("id % 50 as a", "(id * id + 3 * id + 7) % 50 as b")
      .union(spark.range(30).selectExpr("0 as a", "id + 1 as b")) // hub
      .selectExpr("least(a, b) as a", "greatest(a, b) as b")
      .where("a <> b").distinct()
    e.createOrReplaceTempView("tri_e")
    val naive = spark.sql(
      """SELECT e1.a AS v1, e1.b AS v2, e2.b AS v3
        |FROM tri_e e1 JOIN tri_e e2 ON e2.a = e1.b
        |JOIN tri_e e3 ON e3.a = e1.a AND e3.b = e2.b""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val fast = GraphOps.triangles(e).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(fast === naive)
    assert(naive.nonEmpty)
  }

  test("bpe: fixture corpus merges are stable under repartition") {
    val docs = Tables.load(spark, sfDir, "documents").limit(120)
    val a = TextOps.bpeTrain(docs, rounds = 4).collect().toSeq
    val b = TextOps.bpeTrain(docs.repartition(7), rounds = 4).collect().toSeq
    assert(a === b)
    assert(a.size === 4)
  }

  test("skyline: equals the quadratic dominance filter; distributive over partition skylines") {
    import graft.ops.SkylineOps
    // hand case with a duplicate frontier point and a same-price tie
    val pts = Seq(
      (1L, 10, 5), (2L, 10, 5),  // duplicates — both non-dominated
      (3L, 10, 3),               // same price, smaller size → dominated
      (4L, 5, 2), (5L, 20, 9),   // frontier
      (6L, 21, 9),               // pricier, same size → dominated
      (7L, 4, 1)                 // frontier (cheapest)
    ).toDF("id", "price", "size")
    val sky = SkylineOps.skyline(pts, "id", "price", "size")
      .collect().map(_.getLong(0)).toSeq
    assert(sky === Seq(1L, 2L, 4L, 5L, 7L))
    // pseudo-random set under adversarial partitioning: equals the
    // in-engine quadratic NOT EXISTS, and equals the skyline of unioned
    // per-partition skylines (the divide-and-conquer contract)
    val rnd = spark.range(2000).selectExpr("id",
      "(id * 2654435761) % 997 as price", "(id * 40503) % 883 as size")
    rnd.createOrReplaceTempView("sky_r")
    val naive = spark.sql(
      """SELECT id FROM sky_r p WHERE NOT EXISTS (
        |  SELECT 1 FROM sky_r q
        |  WHERE q.price <= p.price AND q.size >= p.size
        |    AND (q.price < p.price OR q.size > p.size))""".stripMargin)
      .collect().map(_.getLong(0)).toSet
    val fast = SkylineOps.skyline(rnd.repartition(13), "id", "price", "size")
      .collect().map(_.getLong(0)).toSet
    assert(fast === naive && naive.nonEmpty)
    val parts = (0 until 4).map(i =>
      SkylineOps.skyline(rnd.where(s"id % 4 = $i"), "id", "price", "size"))
    val ofParts = SkylineOps.skyline(parts.reduce(_.unionAll(_)), "id", "mn", "mx")
      .collect().map(_.getLong(0)).toSet
    assert(ofParts === naive)
  }

  test("count-min: never underestimates, exact when collision-free, cell-wise linear") {
    import graft.ops.SketchOps
    // 2000 occurrences over 300 distinct keys into a 4x64 table: every
    // estimate is >= the true count (the one-sided CM contract)
    val df = spark.range(2000).selectExpr("cast(id % 300 as string) as v")
    val rows = SketchOps.countMin(df, "v", depth = 4, width = 64).collect()
    assert(rows.length === 300)
    rows.foreach(r => assert(r.getLong(2) >= r.getLong(1),
      s"CM underestimated ${r.getString(0)}: ${r.getLong(2)} < ${r.getLong(1)}"))
    // width far above the key count → no row collides in all 4 rows;
    // with 5 keys in 4x1024 cells a shared cell in EVERY row is
    // (5·4/1024)⁴-improbable and the md5 hashes are fixed — deterministic
    val tiny = spark.range(100).selectExpr("cast(id % 5 as string) as v")
    SketchOps.countMin(tiny, "v", depth = 4, width = 1024).collect()
      .foreach(r => assert(r.getLong(2) === r.getLong(1)))
    // linearity: the counter table of a union is the cell-wise SUM of the
    // parts' tables — the merge rule for per-partition/day sketches
    val a = spark.range(0, 1000).selectExpr("cast(id % 300 as string) as v")
    val b = spark.range(1000, 2000).selectExpr("cast(id % 300 as string) as v")
    def cells(d: org.apache.spark.sql.DataFrame) =
      SketchOps.cmSketch(d, "v", 4, 64).collect()
        .map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    val (ca, cb, cf) = (cells(a), cells(b), cells(df))
    cf.foreach { case (k, c) =>
      assert(ca.getOrElse(k, 0L) + cb.getOrElse(k, 0L) === c, s"cell $k not additive")
    }
  }

  test("cmEstimate consumes a persisted counter table: one-sided, exact when collision-free, 0 for never-seen") {
    import graft.ops.SketchOps
    // build once, persist (the "shipped sketch" shape), probe WITHOUT df
    val df = spark.range(2000).selectExpr("cast(id % 300 as string) as v")
    val sketch = SketchOps.cmSketch(df, "v", 4, 64).localCheckpoint()
    val probes = spark.range(310).selectExpr("cast(id as string) as v")
    val est = SketchOps.cmEstimate(sketch, probes, "v", depth = 4, width = 64)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = df.groupBy("v").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(est.size === 310)
    // estimate >= exact for present values; lookups agree with the
    // builder-side countMin estimates bit-for-bit (same placement rule)
    val inline = SketchOps.countMin(df, "v", 4, 64).collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    exact.foreach { case (v, c) =>
      assert(est(v) >= c, s"cmEstimate underestimated $v")
      assert(est(v) === inline(v), s"lookup diverged from builder estimate for $v")
    }
    // collision-free config: lookups are exact; absent probes estimate
    // low (0 unless every one of the 4 cells collided — here: check <= a
    // loose bound rather than exactly 0, which a 64-wide table can't
    // promise; the 1024-wide run below CAN)
    val tiny = spark.range(100).selectExpr("cast(id % 5 as string) as v")
    val tinySketch = SketchOps.cmSketch(tiny, "v", 4, 1024).localCheckpoint()
    val tinyEst = SketchOps.cmEstimate(tinySketch,
      spark.range(7).selectExpr("cast(id as string) as v"), "v", 4, 1024)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    (0 to 4).foreach(i => assert(tinyEst(i.toString) === 20L))
    (5 to 6).foreach(i => assert(tinyEst(i.toString) === 0L,
      s"never-seen value $i estimated nonzero in a collision-free table"))
  }

  test("bpe stops at vocab exhaustion, not at the requested round count") {
    import graft.ops.TextOps
    // every word fully merges after 3 rounds: ab(x3) -> 'ab'; cd(x2) ->
    // 'cd'; then 'ab ' + 'cd'? no — words are independent units; after
    // round 1 (a b -> ab) and round 2 (c d -> cd) every word is a single
    // symbol, so round 3 finds no pair and the loop must exit — a
    // requested 200 rounds must NOT schedule 200 driver jobs
    val d = Seq((1L, "ab ab cd"), (2L, "ab cd")).toDF("doc_id", "text")
    val t0 = System.nanoTime()
    val m = TextOps.bpeTrain(d, rounds = 200).collect()
    val secs = (System.nanoTime() - t0) / 1e9
    assert(m.length === 2, s"expected exhaustion after 2 merges, got ${m.length}")
    assert(m.map(_.getString(3)).toSet === Set("ab", "cd"))
    // 2 real rounds + 1 dry probe ≈ 3 driver jobs; 200 scheduled rounds
    // would take minutes — a generous wall bound pins the early exit
    assert(secs < 60.0, s"bpe early-stop took ${secs}s — did it run all 200 rounds?")
  }

  test("rrf fusion: scores are 1/(60+rank) sums, top-k per query, unmatched docs absent") {
    import graft.ops.TextOps
    val docs = Seq(
      (0L, "alpha beta gamma"),
      (1L, "alpha beta gamma delta"),
      (2L, "alpha beta x y"),
      (3L, "alpha z w v"),
      (4L, "p q r s")
    ).toDF("doc_id", "text")
    val out = TextOps.rrfFusion(docs, nQueries = 1, qLen = 8, kInner = 3, k = 3).collect()
    assert(out.nonEmpty && out.length <= 3)
    // contiguous fused ranks from 1
    assert(out.map(_.getLong(1)).toSeq === (1 to out.length).map(_.toLong))
    out.foreach { r =>
      val rb = if (r.isNullAt(4)) None else Some(r.getLong(4))
      val ro = if (r.isNullAt(5)) None else Some(r.getLong(5))
      assert(rb.nonEmpty || ro.nonEmpty, "fused doc retrieved by neither ranking")
      val expect = rb.map(x => 1.0 / (60 + x)).getOrElse(0.0) +
        ro.map(x => 1.0 / (60 + x)).getOrElse(0.0)
      assert(math.abs(r.getDouble(3) - expect) < 1e-15,
        s"rrf_score ${r.getDouble(3)} != $expect for doc ${r.getLong(2)}")
    }
    // the no-shared-token doc is never retrieved by either ranking
    assert(!out.exists(_.getLong(2) == 4L))
  }

  test("rrf fusion releases its postings cache — nothing persisted outlives the op") {
    import graft.ops.TextOps
    val docs = Seq(
      (0L, "alpha beta gamma"), (1L, "alpha beta delta"), (2L, "alpha x y")
    ).toDF("doc_id", "text")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    // composed two-op session: each call materializes its result (the op
    // returns an eager localCheckpoint) — the postings persist() inside
    // must be released by the time the result is back (ADVICE r12: the
    // cache previously survived the session, accumulating across calls)
    TextOps.rrfFusion(docs, nQueries = 1, qLen = 8, kInner = 3, k = 3).collect()
    TextOps.rrfFusion(docs, nQueries = 2, qLen = 8, kInner = 3, k = 3).collect()
    val persisted = spark.sparkContext.getPersistentRDDs
    val leaked = persisted.keySet -- before
    // the only surviving blocks may be the ops' OWN localCheckpoint RDDs
    // (freed by GC/ContextCleaner once the returned frames drop): every
    // leaked entry must be a locally-checkpointed result, never a plain
    // cache — a plain cache here IS the postings leak.
    leaked.foreach { id =>
      assert(persisted(id).isCheckpointed,
        s"non-checkpoint cache leaked past rrfFusion: RDD $id ${persisted(id)}")
    }
  }

  test("split leakage: identical content crossing the split boundary is reported with exact counts") {
    import graft.ops.PipelineOps
    // 100 docs share one text (ids 0-99 → md5 splits them ~90/5/5), one
    // unique doc never appears (single split by construction)
    val docs = spark.range(101).selectExpr("id as doc_id",
      "case when id < 100 then 'shared leaked text body' else 'unique text' end as text")
    val out = PipelineOps.splitLeakage(docs).collect()
    assert(out.length === 1, s"expected exactly the shared fingerprint, got ${out.length}")
    val r = out.head
    assert(r.getLong(1) === 100L) // n_docs
    assert(r.getLong(2) >= 2L)    // n_splits
    assert(r.getLong(3) + r.getLong(4) + r.getLong(5) === 100L) // counts tile
    assert(r.getLong(3) > 80L, "train share off for a 90/5/5 split of 100 docs")
    assert(r.getLong(6) === 0L)   // first_doc
    // a corpus with no duplicate content reports NO leakage
    assert(PipelineOps.splitLeakage(
      spark.range(50).selectExpr("id as doc_id",
        "concat('doc body ', cast(id as string)) as text")).count() === 0)
  }

  test("tokenizer fertility: hand-computed pieces-per-word by language") {
    import graft.ops.TextOps
    // round 1 merges the corpus-frequent 'a b' -> 'ab', so the en docs
    // encode 1 piece/word while fr's 'cd' stays 2 pieces/word
    val docs = Seq(
      (1L, "en", "ab ab"),
      (2L, "en", "ab"),
      (3L, "fr", "cd")
    ).toDF("doc_id", "lang", "text")
    val out = TextOps.tokenizerFertility(docs, rounds = 1).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(out.keySet === Set("en", "fr"))
    assert(out("en").getLong(1) === 2L && out("en").getLong(2) === 3L &&
      out("en").getLong(3) === 3L && out("en").getDouble(4) === 1.0)
    assert(out("fr").getLong(2) === 1L && out("fr").getLong(3) === 2L &&
      out("fr").getDouble(4) === 2.0)
  }

  test("rate anomalies: single volume spike z-scores above 3; constant volume yields null z") {
    import graft.ops.ProfileOps
    // type a: 15 days of 10 events + one day of 100 (max single-outlier
    // z = sqrt(n-1), so n = 16 puts the spike at z ≈ 3.87 > 3);
    // type b: constant volume → std 0 → NULL z, never flagged
    val ev = spark.sql(
      """SELECT 'a' AS event_type,
        |       timestamp'2024-01-01 00:00:00' + make_interval(0, 0, 0, day, 0, 0, 0) AS ts
        |FROM (SELECT explode(sequence(0, 15)) AS day)
        |LATERAL VIEW explode(sequence(1, CASE WHEN day = 15 THEN 100 ELSE 10 END)) t AS i
        |UNION ALL
        |SELECT 'b', timestamp'2024-01-01 00:00:00' + make_interval(0, 0, 0, day, 0, 0, 0)
        |FROM (SELECT explode(sequence(0, 2)) AS day)
        |LATERAL VIEW explode(sequence(1, 5)) t AS i""".stripMargin)
    val out = ProfileOps.rateAnomalies(ev).collect()
    assert(out.length === 19)
    val flagged = out.filter(_.getBoolean(6))
    assert(flagged.length === 1)
    val spike = flagged.head
    assert(spike.getString(0) === "a" && spike.getLong(2) === 100L)
    assert(math.abs(spike.getDouble(5) - 3.873) < 0.01, s"z = ${spike.getDouble(5)}")
    out.filter(_.getString(0) == "b").foreach { r =>
      assert(r.isNullAt(5) && !r.getBoolean(6))
    }
  }

  test("corpus diff labels added/removed/changed/unchanged via null-safe fingerprints") {
    import graft.ops.PipelineOps
    val old = Seq((1L, "alpha beta"), (2L, "gamma delta"), (3L, "kept text"))
      .toDF("doc_id", "text")
    val v2 = Seq((2L, "gamma delta edited"), (3L, "kept text"), (4L, "fresh doc"))
      .toDF("doc_id", "text")
    val out = PipelineOps.corpusDiff(old, v2).collect()
      .map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(out === Map(1L -> "removed", 2L -> "changed",
      3L -> "unchanged", 4L -> "added"))
    // reordered words are CHANGED (the fingerprint is order-sensitive)
    val shuffled = Seq((3L, "text kept")).toDF("doc_id", "text")
    val o2 = PipelineOps.corpusDiff(old.filter("doc_id = 3"), shuffled).collect()
    assert(o2.head.getString(3) === "changed")
  }

  test("pmi collocations: hand-computed lift on a planted corpus; rare pairs gated") {
    import graft.ops.TextOps
    // "a b" appears 6x, a and b appear only together; "x y" 5x but x also
    // pairs with z, diluting its lift
    val docs = Seq(
      (1L, "a b a b a b x y x y"),
      (2L, "a b a b a b x y x y x z"),
      (3L, "x y") // bumps "x y" to 5
    ).toDF("doc_id", "text")
    val out = TextOps.pmiCollocations(docs, k = 10, minCount = 5)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(6)))
    // bigram space: per doc adjacent pairs INCLUDING cross pairs (b a, y x…)
    // lift(a,b) = (c_ab/c_a)·(N/c_b) with marginals from the bigram table
    val pairs = out.map(t => (t._1, t._2)).toSet
    assert(pairs.contains(("a", "b")))
    val ab = out.find(t => t._1 == "a" && t._2 == "b").get
    assert(ab._3 === 6L)
    // minCount gates: nothing with c_ab < 5 appears
    assert(out.forall(_._3 >= 5L))
    // ranking sanity: every lift positive and sorted descending
    val lifts = out.map(_._4)
    assert(lifts.forall(_ > 0) && lifts.sameElements(lifts.sortBy(-_)))
  }

  test("mad outliers: hand case — constant group has mad 0; a planted spike is flagged") {
    import graft.ops.ProfileOps
    val df = Seq(
      // group c: constant → med 5, mad 0, the 1000 spike is > 3·0 away
      ("c", 5.0), ("c", 5.0), ("c", 5.0), ("c", 5.0), ("c", 1000.0),
      // group s: symmetric 1..7 → disc median 4, adevs {0,1,1,2,2,3,3} →
      // disc mad (4th of 7) = 2; cut 3·2=6 → nothing beyond
      ("s", 1.0), ("s", 2.0), ("s", 3.0), ("s", 4.0), ("s", 5.0), ("s", 6.0), ("s", 7.0)
    ).toDF("g", "v")
    val out = ProfileOps.madOutliers(df, "g", "v", cut = 3.0)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getLong(4))).toMap
    assert(out("c") === ((5L, 5.0, 0.0, 1L)))
    assert(out("s") === ((7L, 4.0, 2.0, 0L)))
  }

  test("kcore: pendant and chain peel away over rounds; the dense core survives exactly") {
    import graft.ops.GraphOps
    // 4-cycle with a 2-hop tail: k=2 peels the tail in TWO rounds (6
    // first, which drops 5 below degree 2) — the iterative part — and
    // keeps the cycle at degree 2 each
    val g = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L), (4L, 5L), (5L, 6L)).toDF("a", "b")
    val core2 = GraphOps.kcore(g, k = 2).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(core2 === Map(1L -> 2L, 2L -> 2L, 3L -> 2L, 4L -> 2L))
    // k=3: the cycle itself unravels — empty core, not an error
    assert(GraphOps.kcore(g, k = 3).collect().isEmpty)
    // triangle + pendant at k=2: one round, pendant gone
    val t = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L)).toDF("a", "b")
    assert(GraphOps.kcore(t, k = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet ===
      Set((1L, 2L), (2L, 2L), (3L, 2L)))
  }

  test("tf-cosine pairs: hand-computed cosines; the df cut defines the space") {
    import graft.ops.TextOps
    val docs = Seq(
      (1L, "alpha alpha beta"),
      (2L, "alpha alpha beta"),   // identical vector → cos 1 with doc 1
      (3L, "alpha beta beta"),    // (1,2)·(2,1)... vs (2,1): dot 4, norms 5,5 → 0.8
      (4L, "gamma delta"),        // shares nothing
      (5L, "alpha gamma")         // low overlap
    ).toDF("doc_id", "text")
    val out = TextOps.tfCosinePairs(docs, minSim = 0.75, maxDf = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    // (2,1)·(2,1)=5 over norms √5·√5 — which is NOT exactly 5 in IEEE;
    // the op's contract is the shared expression TREE, not algebraic 1.0
    assert(out((1L, 2L))._1 === 5L)
    assert(math.abs(out((1L, 2L))._2 - 1.0) < 1e-12)
    assert(out((1L, 3L))._1 === 4L)                 // (2,1)·(1,2)=4
    assert(math.abs(out((1L, 3L))._2 - 0.8) < 1e-12)
    assert(!out.keySet.exists(p => p._1 == 4L || p._2 == 4L))
    // df cut: a term on EVERY doc is excluded from the space — docs that
    // only shared it no longer pair
    val noisy = docs.selectExpr("doc_id", "concat(text, ' common') as text")
    val cut = TextOps.tfCosinePairs(noisy, minSim = 0.01, maxDf = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!cut.contains((1L, 4L)) && !cut.contains((3L, 4L)))
    // without the cut the shared 'common' term pairs everything
    val uncut = TextOps.tfCosinePairs(noisy, minSim = 0.01, maxDf = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(uncut.contains((1L, 4L)))
  }

  test("minhash estimator: duplicates estimate exactly 1.0; near-dups never estimated low") {
    import graft.ops.DedupOps
    val base = (0 until 30).map(i => s"tok$i").mkString(" ")
    val dup = Seq((1L, base), (2L, base), (3L, "other words entirely here now"))
      .toDF("doc_id", "text")
    val d = DedupOps.minhashEstPairs(dup).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getDouble(6), r.getDouble(7))).toMap
    // identical shingle sets → identical signatures → est exactly 1.0
    assert(d(1L -> 2L) === ((1.0, 1.0)))
    // fixture slice: estimates are valid probabilities, exact duplicates
    // estimate exactly 1.0, and true near-dups (J ≥ 0.8) are never
    // estimated low. NO tight per-pair bound is asserted: the affine
    // family a_i·h+b_i is not positionwise-independent, so low-J band
    // candidates can agree in many positions — the BIAS this audit op
    // exists to make visible (its gated output shows est vs exact
    // in-row; the production decision still runs on the exact verify).
    val docs = Tables.load(spark, sfDir, "documents").limit(200)
    val rows = DedupOps.minhashEstPairs(docs).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (ex, est) = (r.getDouble(6), r.getDouble(7))
      assert(est >= 0.0 && est <= 1.0)
      if (ex == 1.0) assert(est === 1.0, "exact duplicate must estimate 1.0")
      if (ex >= 0.8) assert(est >= 0.5, s"true near-dup (J=$ex) estimated $est")
    }
  }

  test("bpe token count: totals reconcile with the tokenizer artifact and the word stream") {
    import graft.ops.TextOps
    val docs = Tables.load(spark, sfDir, "documents").limit(150)
    val tc = TextOps.bpeTokenCount(docs, rounds = 4).collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1),
        if (r.isNullAt(2)) 0L else r.getLong(2)))
    assert(tc.length === 150)
    // Σ per-doc BPE tokens == Σ over the vocab of count·pieces (the
    // artifact's own bill), and words ≥ tokens can never happen
    val enc = TextOps.bpeEncode(docs, rounds = 4).collect()
      .map(r => r.getLong(1) * r.getLong(2)).sum
    assert(tc.map(_._3).sum === enc)
    tc.foreach { case (id, w, t) => assert(t >= w, s"doc $id: fewer pieces than words") }
  }

  test("knn classify: planted clusters recovered; vote ties break to the smallest label") {
    import graft.ops.VectorOps
    // 3 tight clusters along different axes, labels 0/1/2; queries are
    // members, so 5-NN votes are unanimous within the cluster
    val pts = spark.range(30).selectExpr("id as vec_id",
      """transform(sequence(0, 11), j -> cast(
        |  case when cast(j / 4 as int) = cast(id % 3 as int)
        |       then 10.0 + (id % 7) * 0.01 else 0.05 end as float)) as embedding""".stripMargin,
      "id % 3 as label")
    val out = VectorOps.knnClassify(pts, k = 5, nQueries = 12).collect()
    assert(out.length === 12)
    out.foreach { r =>
      assert(r.getLong(1) === r.getLong(4), s"query ${r.getLong(0)} misclassified")
      assert(r.getInt(5) === 1)
    }
    // 2-2 vote tie at k = 4 → the smaller label wins by the argmax recipe
    val tie = spark.range(9).selectExpr("id as vec_id",
      """transform(sequence(0, 3), j -> cast(
        |  case when id = 8 then 1.0
        |       when cast(id % 2 as int) = 0 then (case when j < 2 then 1.0 else 0.9 end)
        |       else (case when j < 2 then 0.9 else 1.0 end) end as float)) as embedding""".stripMargin,
      "case when id = 8 then 9L else id % 2 end as label")
    val t = VectorOps.knnClassify(tie, k = 4, nQueries = 9).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // query 8 is equidistant-ish from both families; its 4 neighbors split
    // 2-2 whenever votes equal — whichever happens, predicted must be the
    // smallest max-vote label, never the larger of a tied pair
    val (pred8, votes8) = t(8L)
    assert(votes8 >= 2L && (votes8 > 2L || pred8 === 0L))
  }

  test("session stats: hand-built sessions roll up to the right hour cells") {
    import graft.ops.ProfileOps
    val df = Seq(
      // user 1: two events 10 min apart (one session, dur 600s), then a
      // 2-hour gap opens a second session (1 event, dur 0)
      (1L, 1L, "2024-01-01 08:00:00"), (2L, 1L, "2024-01-01 08:10:00"),
      (3L, 1L, "2024-01-01 10:30:00"),
      // user 2: single event at 08:xx — its own session
      (4L, 2L, "2024-01-01 08:45:00")
    ).toDF("event_id", "user_id", "tss")
      .selectExpr("event_id", "user_id", "cast(tss as timestamp) as ts")
    val out = ProfileOps.sessionStats(df).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    assert(out(8L) === ((2L, 3L, 2L, 0.0)))   // two sessions; disc median dur = min(0, 600s)
    assert(out(10L) === ((1L, 1L, 1L, 0.0)))
    assert(out.size === 2)
  }

  test("gini: 0 for perfectly equal values; hand case; invariant under value order/partitioning") {
    import graft.ops.ProfileOps
    val df = Seq(
      // equal values → gini exactly 0 (num telescopes to 0)
      ("eq", 5.0), ("eq", 5.0), ("eq", 5.0), ("eq", 5.0),
      // one holder of everything among 4 → G = (n-1)/n = 0.75
      ("one", 0.0), ("one", 0.0), ("one", 0.0), ("one", 8.0),
      // hand case [1,2,3,4]: num = (-3·1 -1·2 +1·3 +3·4) = 10; den = 4·10 → 0.25
      ("mid", 1.0), ("mid", 2.0), ("mid", 3.0), ("mid", 4.0)
    ).toDF("g", "v")
    val out = ProfileOps.giniConcentration(df, "g", "v").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(out("eq") === ((4L, 0.0)))
    assert(out("one") === ((4L, 0.75)))
    assert(out("mid") === ((4L, 0.25)))
    // partitioning/arrival order cannot move the statistic
    val shuffled = ProfileOps.giniConcentration(df.repartition(7), "g", "v").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(shuffled === out)
  }

  test("ab z-test: hand-computed z on planted conversions; user-level dedup of repeat events") {
    import graft.ops.ProfileOps
    // variant 0 (even users): u0 converts (twice — must count once), u2
    // doesn't → p_a = 1/2; variant 1 (odd): u1, u3 both convert → p_b = 1
    val df = Seq(
      (0L, "purchase", 60.0), (0L, "purchase", 55.0), (0L, "view", 99.0), (2L, "view", 70.0),
      (1L, "purchase", 80.0), (3L, "purchase", 75.0), (3L, "click", 90.0)
    ).toDF("user_id", "event_type", "value")
    val r = ProfileOps.abConversionZ(df, "user_id", "event_type", "value",
      "purchase", minValue = 50.0).collect()(0)
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) === ((2L, 1L, 2L, 2L)))
    assert(r.getDouble(4) === 0.5 && r.getDouble(5) === 1.0)
    val expected = (0.5 - 1.0) / math.sqrt(0.75 * 0.25 * (0.5 + 0.5))
    assert(math.abs(r.getDouble(6) - expected) < 1e-15)
  }

  test("event transitions: hand-built Markov matrix; probabilities normalize per row") {
    import graft.ops.ProfileOps
    val df = Seq(
      (1L, "2024-01-01 10:00:00", 1L, "A"), (2L, "2024-01-01 10:01:00", 1L, "B"),
      (3L, "2024-01-01 10:02:00", 1L, "A"), (4L, "2024-01-01 10:03:00", 1L, "B"),
      (5L, "2024-01-01 09:00:00", 2L, "A"), (6L, "2024-01-01 09:30:00", 2L, "C")
    ).toDF("event_id", "tss", "user_id", "event_type")
      .selectExpr("event_id", "cast(tss as timestamp) as ts", "user_id", "event_type")
    val out = ProfileOps.eventTransitions(df, "user_id", "ts", "event_type", "event_id")
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    assert(out(("A", "B")) === ((2L, 3L, 2.0 / 3)))
    assert(out(("A", "C")) === ((1L, 3L, 1.0 / 3)))
    assert(out(("B", "A")) === ((1L, 1L, 1.0)))
    assert(out.size === 3)
  }

  test("group trend: exact slope and r2 = 1.0 on planted linear data") {
    import graft.ops.ProfileOps
    // group "up": one event per day, value = 2·day + 3 → slope exactly
    // 2·10⁶ micro-units/day, intercept 3·10⁶, r² exactly 1.0 (all
    // moments are small exact integers and num² == denX·denY)
    val rows = (0 until 5).map(i => ("up", s"2024-01-0${i + 1} 12:00:00", 2.0 * i + 3.0)) ++
      Seq(("noisy", "2024-01-01 00:00:00", 1.0), ("noisy", "2024-01-02 00:00:00", 9.0),
        ("noisy", "2024-01-03 00:00:00", 2.0))
    val df = rows.toDF("g", "tss", "value")
      .selectExpr("g", "cast(tss as timestamp) as ts", "value")
    val out = ProfileOps.groupTrend(df, "g", "ts", "value").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    assert(out("up") === ((5L, 2000000.0, 3000000.0, 1.0)))
    val (nd, _, _, r2n) = out("noisy")
    assert(nd === 3L && r2n >= 0.0 && r2n < 1.0)
  }

  test("kmv set ops: exact under capacity; bounded error on a large overlap") {
    import graft.ops.SketchOps
    // under capacity (9 distinct hashes < k=16): the merged sketch IS the
    // union, so est_union = 7 exactly and n_both = |A∩B| = 3
    val small = spark.range(100).selectExpr(
      "case when id % 2 = 0 then 'A' else 'B' end as grp",
      "cast(case when id % 2 = 0 then id % 50 % 5 + 1 else id % 50 % 5 + 3 end as string) as v")
    val s = SketchOps.kmvSetOps(small, "grp", "v", k = 16).collect()(0)
    assert(s.getString(0) === "A" && s.getString(1) === "B")
    assert(s.getLong(2) === 7L)   // n_kept = |A∪B|
    assert(s.getLong(3) === 3L)   // n_both
    assert(s.getLong(4) === 3L)   // exact_inter
    assert(s.getDouble(5) === 7.0)
    assert(math.abs(s.getDouble(6) - 3.0) < 1e-9)
    // above capacity: A = 0..1999, B = 1000..2999 (1000 shared, 3000 union)
    val big = spark.range(4000).selectExpr(
      "case when id < 2000 then 'A' else 'B' end as grp",
      "cast(case when id < 2000 then id else id - 1000 end as string) as v")
    val b = SketchOps.kmvSetOps(big, "grp", "v", k = 256).collect()(0)
    val relU = math.abs(b.getDouble(5) - 3000.0) / 3000.0
    val relI = math.abs(b.getDouble(6) - 1000.0) / 1000.0
    assert(b.getLong(4) === 1000L)
    assert(relU < 5.0 / math.sqrt(254.0), s"union rel error $relU")
    // intersection compounds union + Jaccard variance — allow 2x the bound
    assert(relI < 10.0 / math.sqrt(254.0), s"intersection rel error $relI")
  }

  test("weighted percentiles: hand case + equals the unweighted disc over the expanded multiset") {
    import graft.ops.PercentileOps.{weightedDiscPercentiles, sortedPercentiles, WSpec, PSpec}
    val df = Seq(
      ("a", 1.0, 1L), ("a", 2.0, 1L), ("a", 3.0, 8L), // heavy tail value
      ("b", 1.0, 1L), ("b", 2.0, 1L), ("b", 3.0, 1L), ("b", 4.0, 1L)
    ).toDF("k", "v", "w")
    val out = weightedDiscPercentiles(df, "k", "v", "w",
        Seq(WSpec(1, 2, "med"), WSpec(9, 10, "p90")))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2), r.getLong(3))).toMap
    assert(out("a") === ((3.0, 3.0, 10L))) // cumw {1,2,10}: first ≥5 and ≥9 is 3.0
    assert(out("b") === ((2.0, 4.0, 4L)))  // uniform weights = plain disc
    // semantics pin: the weighted quantile IS the unweighted disc quantile
    // of the weight-expanded multiset (computed here by actually expanding)
    val expanded = df.selectExpr("k", "explode(array_repeat(v, cast(w as int))) as v")
    val plain = sortedPercentiles(expanded, "k", Seq(
        PSpec("v", 0.5, "med", disc = true), PSpec("v", 0.9, "p90", disc = true)))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    out.foreach { case (k, (m, p, _)) =>
      assert((m, p) === plain(k), s"group $k diverged from the expanded multiset")
    }
  }

  test("containment pairs: quotes are directional; prefix filter equals the quadratic") {
    import graft.ops.{DedupOps, TextOps}
    // doc 1's two shingles both sit inside doc 2 → C(1→2)=1; the reverse
    // is 2/4 = 0.5 and must NOT appear at t=0.7; doc 3 shares nothing
    val docs = Seq(
      (1L, "one two three four"),
      (2L, "one two three four five six"),
      (3L, "seven eight nine ten eleven")
    ).toDF("doc_id", "text")
    val out = DedupOps.containmentPairs(docs, threshold = 0.7).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    assert(out.keySet === Set((1L, 2L)))
    assert(out((1L, 2L)) === ((2L, 2L, 1.0)))
    // pseudo-random overlapping corpus: the prefix-filtered op equals the
    // in-engine direct quadratic form, both directions
    val rnd = spark.range(40).selectExpr("id as doc_id",
      """concat_ws(' ', transform(sequence(0, 8 + cast(id % 7 as int)),
        |  i -> concat('w', cast((id * 5 + i * (1 + id % 3)) % 37 as string)))) as text""".stripMargin)
    val fast = DedupOps.containmentPairs(rnd, threshold = 0.6).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    rnd.createOrReplaceTempView("cont_docs")
    val naive = spark.sql(
      s"""WITH sh AS (SELECT doc_id, explode(${TextOps.shinglesExpr(TextOps.wordsExpr("text"))}) as s
         |            FROM cont_docs),
         |sz AS (SELECT doc_id, count(*) as n FROM sh GROUP BY doc_id),
         |i AS (SELECT a.doc_id as doc_a, b.doc_id as doc_b, count(*) as c
         |      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id <> b.doc_id
         |      GROUP BY 1, 2)
         |SELECT doc_a, doc_b, c FROM i JOIN sz ON sz.doc_id = doc_a
         |WHERE cast(c as double) / cast(n as double) >= 0.6""".stripMargin).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(fast === naive && naive.nonEmpty)
  }

  test("containment prefix bound survives the exact ceil-boundary threshold") {
    import graft.ops.DedupOps
    // 22 words → 20 shingles per doc; the 13 shared trailing words give
    // exactly 11 shared shingles ⇒ containment = 11/20 = 0.55 both ways.
    // ceil(0.55 · 20) computes 12 in doubles (11.000…009 rounds up), so
    // the pre-fix prefix was one shingle short: each doc's 9 unique
    // (df=1, rarest-first) shingles filled the whole prefix and the pair
    // was silently dropped while verification and the quadratic oracle
    // both accept it (ADVICE r11).
    val common = (1 to 13).map(i => s"c$i").mkString(" ")
    val docs = Seq(
      (1L, (1 to 9).map(i => s"a$i").mkString(" ") + " " + common),
      (2L, (1 to 9).map(i => s"b$i").mkString(" ") + " " + common)
    ).toDF("doc_id", "text")
    val out = DedupOps.containmentPairs(docs, threshold = 0.55).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out === Set((1L, 2L), (2L, 1L)))
  }

  test("weighted percentiles raise on non-integral weights instead of truncating") {
    import graft.ops.PercentileOps.{weightedDiscPercentiles, WSpec}
    val df = Seq(("a", 1.0, 2.9), ("a", 2.0, 1.0)).toDF("k", "v", "w")
    val e = intercept[Exception] {
      weightedDiscPercentiles(df, "k", "v", "w", Seq(WSpec(1, 2, "med"))).collect()
    }
    assert(e.getMessage.contains("non-integral weight"))
    // integral-valued doubles (and NULL weights) still flow
    val ok = weightedDiscPercentiles(
      Seq(("a", 1.0, 2.0), ("a", 5.0, 1.0)).toDF("k", "v", "w"),
      "k", "v", "w", Seq(WSpec(1, 2, "med"))).collect()
    assert(ok.head.getDouble(1) === 1.0)
  }

  test("freeLocalCheckpoint releases checkpoint blocks that Dataset.unpersist cannot") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val df = spark.range(1000).selectExpr("id", "id * 2 as v").localCheckpoint()
    val added = sc.getPersistentRDDs.keySet -- before
    assert(added.nonEmpty, "localCheckpoint registered no persistent RDD")
    df.unpersist() // the documented no-op (ADVICE r11) — blocks must survive
    assert((sc.getPersistentRDDs.keySet -- before) === added,
      "Dataset.unpersist unexpectedly freed the checkpoint — helper obsolete?")
    graft.ops.LineageUtil.freeLocalCheckpoint(df)
    assert((sc.getPersistentRDDs.keySet -- before).isEmpty,
      "freeLocalCheckpoint left checkpoint blocks registered")
  }

  test("lexical diversity: hand-computed ttr and gini-simpson; empty doc surfaces as nulls") {
    import graft.ops.TextOps
    val docs = Seq(
      (1L, "a a b"),      // n=3 types=2 ttr=2/3 gini=(9-5)/9=4/9
      (2L, "a a a a"),    // n=4 types=1 ttr=1/4 gini=0
      (3L, "x y z"),      // all distinct: gini=(9-3)/9=2/3
      (4L, "")            // no tokens → null metrics, row kept
    ).toDF("doc_id", "text")
    val out = TextOps.lexicalDiversity(docs).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out.size === 4)
    assert(out(1L).getLong(1) === 3L && out(1L).getLong(2) === 2L)
    assert(math.abs(out(1L).getDouble(3) - 2.0 / 3) < 1e-15)
    assert(math.abs(out(1L).getDouble(4) - 4.0 / 9) < 1e-15)
    assert(out(2L).getDouble(4) === 0.0)
    assert(math.abs(out(3L).getDouble(4) - 2.0 / 3) < 1e-15)
    assert(out(4L).isNullAt(1) && out(4L).isNullAt(4))
  }

  test("dist drift: hand-computed TV distance; identical slices have distance 0") {
    import graft.ops.TextOps
    val docs = Seq(
      (1L, "s1", "a a b"),
      (2L, "s2", "a b b b"),
      (3L, "s3", "a a b")  // same distribution as s1
    ).toDF("doc_id", "src", "text")
    val out = TextOps.distDrift(docs, "src").collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5))).toMap
    // s1 vs s2: |2·4−1·3| + |1·4−3·3| = 10 over 2·3·4 = 24
    assert(out(("s1", "s2")) === ((3L, 4L, 10L, 10.0 / 24)))
    // identical distributions → TV 0
    assert(out(("s1", "s3")) === ((3L, 3L, 0L, 0.0)))
    // TV is symmetric in construction: (s2,s3) mirrors (s1,s2)'s distance
    assert(out(("s2", "s3"))._4 === 10.0 / 24)
  }

  test("graph components: hand case + agreement between union-find and star contraction") {
    import graft.ops.GraphOps
    // two components and an isolated pair; labels are component minima
    val e = Seq((2L, 1L), (2L, 3L), (7L, 9L), (9L, 8L), (5L, 6L)).toDF("a", "b")
    val lab = GraphOps.components(e).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(lab === Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      7L -> 7L, 8L -> 7L, 9L -> 7L, 5L -> 5L, 6L -> 5L))
    // a long path — the diameter case star contraction must close in
    // O(log n) rounds — labeled identically by both paths
    val chain = spark.range(999).selectExpr("id as a", "id + 1 as b")
    val viaUF = GraphOps.components(chain).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val viaStars = GraphOps.components(chain, driverMaxEdges = 0L).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(viaUF === (0L to 999L).map(_ -> 0L).toSet)
    assert(viaStars === viaUF)
  }

  test("score AUC: tie-handled hand case equals the pairwise probability; degenerate groups NULL") {
    import graft.ops.ProfileOps
    // scores (1, 2, 2, 3), labels (-, -, +, +): concordant pairs
    // (2⁺,1⁻), (3⁺,1⁻), (3⁺,2⁻) plus the (2⁺,2⁻) tie at ½ → 3.5/4
    val d = Seq(
      ("s", 1.0, false), ("s", 2.0, false), ("s", 2.0, true), ("s", 3.0, true),
      ("t", 5.0, true), ("t", 7.0, true) // one class only → AUC undefined
    ).toDF("src", "score", "lab")
    val out = ProfileOps.scoreAuc(d, "src", "score", "lab").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) null else r.getDouble(3))).toMap
    assert(out("s") === ((2L, 2L, 0.875)))
    assert(out("t") === ((2L, 0L, null)))
    // a perfect separator and a constant score (all ties)
    val d2 = Seq(("u", 1.0, false), ("u", 9.0, true),
      ("v", 4.0, false), ("v", 4.0, true)).toDF("src", "score", "lab")
    val out2 = ProfileOps.scoreAuc(d2, "src", "score", "lab").collect()
      .map(r => r.getString(0) -> r.getDouble(3)).toMap
    assert(out2("u") === 1.0)
    assert(out2("v") === 0.5) // all-tied scores carry zero information
  }

  test("score KS: hand CDF-gap case with ties; identical distributions give 0; one class NULL") {
    import graft.ops.ProfileOps
    // s: scores (1,2,2,3), labels (-,-,+,+): CDF gaps at v=1,2,3 are
    // 1/2, 1/2, 0 → KS = 0.5. t: positives and negatives identically
    // placed → 0. u: one class only → undefined.
    val d = Seq(
      ("s", 1.0, false), ("s", 2.0, false), ("s", 2.0, true), ("s", 3.0, true),
      ("t", 1.0, true), ("t", 1.0, false), ("t", 5.0, true), ("t", 5.0, false),
      ("u", 3.0, true)
    ).toDF("src", "score", "lab")
    val out = ProfileOps.scoreKs(d, "src", "score", "lab").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) null else r.getDouble(3))).toMap
    assert(out("s") === ((2L, 2L, 0.5)))
    assert(out("t") === ((2L, 2L, 0.0)))
    assert(out("u") === ((1L, 0L, null)))
  }

  test("score best-F1: brute-force argmax on a hand case; lowest-threshold tie-break; no-positive NULL") {
    import graft.ops.ProfileOps
    // s: scores 1⁻ 2⁻ 2⁺ 3⁺ — t=3: P=1, R=.5, F1=2/3; t=2: TP=2 FP=1,
    // F1=4/5 (best); t=1: TP=2 FP=2, F1=2/3. → thr 2, tp 2, fp 1.
    // t: a perfect split, every threshold ≤ the positive ties at F1=1?
    //   scores 1⁻ 9⁺: t=9 → F1=1; t=1 → TP=1 FP=1 → F1=2/3. → thr 9.
    // u: no positives → NULL metrics.
    val d = Seq(
      ("s", 1.0, false), ("s", 2.0, false), ("s", 2.0, true), ("s", 3.0, true),
      ("t", 1.0, false), ("t", 9.0, true),
      ("u", 4.0, false), ("u", 7.0, false)
    ).toDF("src", "score", "lab")
    val out = ProfileOps.scoreBestF1(d, "src", "score", "lab").collect()
      .map(r => r.getString(0) -> r).toMap
    val s = out("s")
    assert(s.getDouble(3) === 2.0 && s.getLong(4) === 2L && s.getLong(5) === 1L)
    assert(s.getDouble(6) === 2.0 / 3.0 && s.getDouble(7) === 1.0 &&
      s.getDouble(8) === 0.8)
    val t = out("t")
    assert(t.getDouble(3) === 9.0 && t.getDouble(8) === 1.0)
    val u = out("u")
    assert(u.getLong(1) === 0L && u.getLong(2) === 2L && u.isNullAt(3) && u.isNullAt(8))
  }

  test("sliding range-frame agg equals Spark's native RANGE window (ties, nulls, fixture)") {
    import graft.ops.SlidingOps
    // hand case: ties (two rows at v=10), boundary landing exactly on a
    // value (12 - 2 = 10 → closed interval includes the 10-peers), a
    // null-key group, and a null order value (peers-of-null frame)
    val d = Seq[(java.lang.Long, String, java.lang.Double)](
      (1L, "a", 10.0), (2L, "a", 10.0), (3L, "a", 12.0), (4L, "a", 15.0),
      (5L, "b", 10.0), (6L, "b", 100.0),
      (7L, null, 10.0), (8L, "a", null), (9L, "a", null)
    ).toDF("id", "k", "v")
    val mine = SlidingOps.rangeFrameAgg(d, "k", "v",
        precede = lit(2.0), follow = lit(3.0),
        sumExpr = expr("cast(v as decimal(18,6))"))
      .selectExpr("id", "n_frame", "cast(sum_frame as double) as s")
      .collect().map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) null else r.getDouble(2))).toSet
    d.createOrReplaceTempView("rf_hand")
    val ref = spark.sql(
      """SELECT id, CAST(COUNT(*) OVER w AS BIGINT) AS n_frame,
        |  CAST(SUM(CAST(v AS DECIMAL(18,6))) OVER w AS DOUBLE) AS s
        |FROM rf_hand
        |WINDOW w AS (PARTITION BY k ORDER BY v
        |             RANGE BETWEEN 2.0 PRECEDING AND 3.0 FOLLOWING)""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) null else r.getDouble(2))).toSet
    assert(mine === ref)

    // sign-flipped offsets = a forward-only window (RANGE BETWEEN 2
    // FOLLOWING AND 5 FOLLOWING), including EMPTY frames — SQL says
    // (0, NULL) there, and the clamped prefix difference must agree
    val fwd = SlidingOps.rangeFrameAgg(d.filter("v is not null"), "k", "v",
        precede = lit(-2.0), follow = lit(5.0),
        sumExpr = expr("cast(v as decimal(18,6))"))
      .selectExpr("id", "n_frame", "cast(sum_frame as double) as s")
      .collect().map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) null else r.getDouble(2))).toSet
    val fwdRef = spark.sql(
      """SELECT id, CAST(COUNT(*) OVER w AS BIGINT) AS n_frame,
        |  CAST(SUM(CAST(v AS DECIMAL(18,6))) OVER w AS DOUBLE) AS s
        |FROM rf_hand WHERE v IS NOT NULL
        |WINDOW w AS (PARTITION BY k ORDER BY v
        |             RANGE BETWEEN 2.0 FOLLOWING AND 5.0 FOLLOWING)""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) null else r.getDouble(2))).toSet
    assert(fwd === fwdRef)

    // fixture scale: identical to the native window over orders (the
    // op_range_frame_agg geometry) — every row, both aggregates
    val o = Tables.load(spark, sfDir, "orders")
      .select("o_orderkey", "o_orderpriority", "o_totalprice")
    val got = SlidingOps.rangeFrameAgg(o, "o_orderpriority", "o_totalprice",
        precede = lit(1000.0), follow = lit(500.0),
        sumExpr = expr("cast(o_totalprice as decimal(18,6))"))
      .selectExpr("o_orderkey", "n_frame", "cast(sum_frame as double) as s")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    o.createOrReplaceTempView("rf_orders")
    val want = spark.sql(
      """SELECT o_orderkey, CAST(COUNT(*) OVER w AS BIGINT) AS n_frame,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) OVER w AS DOUBLE) AS s
        |FROM rf_orders
        |WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice
        |             RANGE BETWEEN 1000.0 PRECEDING AND 500.0 FOLLOWING)""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got === want)
  }

  test("rangePrefix invariant: per-key max(__cum) == __n == sum(cnt) on a multi-partition stress frame") {
    // ADVICE r15 / VERDICT r16 root-cause: the offsets fold-in joins two
    // consumers of one range exchange on __pid — a misalignment (the
    // pre-persist code produced one under REPARTITION_BY_NUM) breaks
    // exactly this algebraic identity, so pin it on an input that spans
    // every shuffle partition: many keys (incl. a null key), many blocks
    // per key, two measures of different types.
    import graft.ops.PercentileOps
    // `p` is a payload the offsets side never reads: it prunes `p` below
    // its own range exchange, which then samples bounds of its own, so
    // only the pid persist keeps the two consumers on one partitioning
    // (without a payload both read the same columns and Spark reuses one
    // exchange, which hides a missing persist)
    val blocks = spark.range(0, 20000)
      .selectExpr(
        "case when id % 97 = 0 then cast(null as string) else concat('k', id % 23) end as k",
        "cast(id as double) as v",
        "id % 7 + 1 as c1",
        "cast(cast(id % 5 as decimal(18,6)) - 2 as decimal(18,6)) as c2",
        "concat('p', id) as p")
    // AQE coalescing may merge the persisted range partitions (the session
    // lets it change a cached plan's partitioning); the pid-keyed fold-in
    // must hold however they merge. On this frame the session default and
    // a huge advisory size both merge the four range partitions into one;
    // a tiny one keeps all four only with the 1 MB minimum partition size
    // lowered too, since Spark never targets less than that minimum
    val advisory = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    val minSize = "spark.sql.adaptive.coalescePartitions.minPartitionSize"
    def run(confs: (String, String)*): Seq[String] = {
      val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      try {
        val rows = PercentileOps.rangePrefixN(blocks, "k", Seq("v"), Seq("c1", "c2")).collect()
        assert(rows.length === 20000, s"rows lost under $confs")
        rows.groupBy(r => Option(r.getAs[String]("k"))).foreach { case (key, rs) =>
          val last = rs.maxBy(_.getAs[Double]("v"))
          val n1 = last.getAs[Long]("__n_c1")
          val n2 = last.getAs[java.math.BigDecimal]("__n_c2")
          assert(rs.map(_.getAs[Long]("__cum_c1")).max === n1 &&
            n1 === rs.map(_.getAs[Long]("c1")).sum, s"c1 invariant broken for $key under $confs")
          // c2 goes negative, so its per-key LAST cumulative (at max v) —
          // not the max — must equal the total
          assert(last.getAs[java.math.BigDecimal]("__cum_c2").compareTo(n2) === 0 &&
            n2.compareTo(rs.map(_.getAs[java.math.BigDecimal]("c2")).reduce(_ add _)) === 0,
            s"c2 invariant broken for $key under $confs")
        }
        rows.map(_.mkString("|")).toSeq.sorted
      } finally {
        saved.foreach {
          case (k, Some(v)) => spark.conf.set(k, v)
          case (k, None) => spark.conf.unset(k)
        }
        spark.catalog.clearCache()
      }
    }
    val base = run()
    assert(run(advisory -> "1", minSize -> "1") === base,
      "tiny advisory size changed the output")
    assert(run(advisory -> "1g") === base, "huge advisory size changed the output")
  }

  test("rangeFrameAgg guards: offset-type mismatch and reserved output names raise") {
    import graft.ops.SlidingOps
    // DECIMAL value column probed with DOUBLE offsets: the probe union
    // would silently widen every boundary by position (ADVICE r15) —
    // must raise at construction instead
    val dec = Seq((1L, "a", BigDecimal("10.00"))).toDF("id", "k", "v")
      .selectExpr("id", "k", "cast(v as decimal(18,2)) as v")
    val ex = intercept[IllegalArgumentException] {
      SlidingOps.rangeFrameAgg(dec, "k", "v",
        precede = lit(2.0), follow = lit(3.0), sumExpr = expr("v"))
    }
    assert(ex.getMessage.contains("lossy boundary type"))
    // same-scale DECIMAL offsets pass the guard (the +1-digit precision
    // growth decimal arithmetic forces is exact, not lossy)
    SlidingOps.rangeFrameAgg(dec, "k", "v",
      precede = expr("cast(2 as decimal(18,2))"),
      follow = expr("cast(3 as decimal(18,2))"),
      sumExpr = expr("v")).collect()
    // a pre-existing n_frame/sum_frame column would come back ambiguous
    // after the output join — must raise, not produce duplicate columns
    val clash = Seq((1L, "a", 1.0, 9L)).toDF("id", "k", "v", "n_frame")
    val ex2 = intercept[IllegalArgumentException] {
      SlidingOps.rangeFrameAgg(clash, "k", "v",
        precede = lit(1.0), follow = lit(1.0), sumExpr = expr("v"))
    }
    assert(ex2.getMessage.contains("n_frame"))
    spark.catalog.clearCache()
  }

  test("margin alignment: planted parallel pair wins with mutual flag; hubs don't") {
    // Side A = even ids, side B = odd ids. Plant one aligned pair
    // (0 ↔ 1: near-identical vectors) and one HUB (5: close to
    // everything on side A) — raw cosine would rank the hub high for
    // every A vector, margin normalization must not
    def v(xs: Double*) = xs.map(_.toFloat).toArray
    val emb = Seq(
      (0L, v(1, 0, 0, 0)), // A: the planted source
      (1L, v(0.99, 0.1, 0, 0)), // B: its translation
      (2L, v(0, 1, 0, 0)), // A
      (3L, v(0, 0.97, 0.2, 0)), // B: pairs with 2
      (4L, v(0, 0, 1, 0)), // A
      (5L, v(0.5, 0.5, 0.55, 0.2)), // B: the hub — close to 0, 2 AND 4
      (6L, v(0, 0, 0.98, 0.15)) // A: pairs with nothing special
    ).toDF("vec_id", "embedding")
    val out = VectorOps.marginAlign(emb, k = 2, threshold = 0.0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(4))).toList
    // 0 must align to 1 (not the hub 5), mutually
    assert(out.contains((0L, 1L, 1)), s"planted pair lost: $out")
    // 2 must align to 3, mutually
    assert(out.contains((2L, 3L, 1)), s"planted pair lost: $out")
    // every A vector emits exactly one row at threshold 0
    assert(out.map(_._1).sorted == List(0L, 2L, 4L, 6L), out.toString)
    // the hub can be SOME vector's best, but at most one A vector can
    // hold it mutually
    assert(out.count { case (_, b, m) => b == 5L && m == 1 } <= 1, out.toString)
  }

  test("margin alignment guard: oversized sides raise toward the ANN path") {
    val emb = (0L until 6L).map(i => (i, Array(1.0f, i.toFloat))).toDF("vec_id", "embedding")
    val ex = intercept[IllegalArgumentException] {
      VectorOps.marginAlign(emb, k = 1, threshold = 0.0, maxSide = 2L)
    }
    assert(ex.getMessage.contains("marginAlignAnn"), ex.getMessage)
  }

  // ── MergePercentileRule behavior (PlanSpec pins the plan shape; these
  //    pin the VALUES and the eligibility boundaries) ──────────────────

  /** Groups with ties, negatives, nulls, a 1-row group and an all-null
    * group — the shapes percentile interpolation must survive. */
  private def pctDF = {
    val rows = (for {
      g <- Seq("a", "b", "c")
      i <- 1 to 40
    } yield {
      val v: java.lang.Double =
        if (g == "c") null // all-null group
        else if (i % 7 == 0) 5.0 // ties
        else (i * 13 % 29) - 7.0
      (g, v)
    }) :+ (("d", java.lang.Double.valueOf(42.0))) // 1-row group
    rows.toDF("g", "v")
  }

  test("merged percentiles equal the explicit array form (exact + approx, dup fractions)") {
    val df = pctDF
    df.createOrReplaceTempView("pct_t")
    // scalar forms — the rule merges these (0.25 twice exercises the
    // duplicate-fraction index mapping)
    val merged = spark.sql(
      """SELECT g, percentile(v, 0.25) AS p25, percentile(v, 0.75) AS p75,
        |       percentile(v, 0.25) AS p25_again, median(v) AS med,
        |       approx_percentile(v, 0.25, 100) AS a25,
        |       approx_percentile(v, 0.75, 100) AS a75
        |FROM pct_t GROUP BY g ORDER BY g""".stripMargin).collect()
    // explicit array forms — already merged, the rule no-ops on these
    val reference = spark.sql(
      """SELECT g, pp[0] AS p25, pp[1] AS p75, pp[0] AS p25_again, pp[2] AS med,
        |       ap[0] AS a25, ap[1] AS a75 FROM (
        |  SELECT g, percentile(v, array(0.25, 0.75, 0.5)) AS pp,
        |         approx_percentile(v, array(0.25, 0.75), 100) AS ap
        |  FROM pct_t GROUP BY g) ORDER BY g""".stripMargin).collect()
    assert(merged.toSeq == reference.toSeq)

    // more shapes, each against the array form: a NULL-key group (large
    // enough to span partitions), two grouping keys, PERCENTILE_DISC, a
    // FILTER'd percentile, COUNT/SUM beside the percentiles, a global
    // aggregate over empty input and a whole-partition MEDIAN window
    val wide = df.union((1 to 300).map(i =>
        (null: String, java.lang.Double.valueOf((i * 37 % 541).toDouble))).toDF("g", "v"))
      .withColumn("g2", expr("cast(coalesce(v, 0) as bigint) % 2"))
      .repartition(3)
    wide.createOrReplaceTempView("pct_w")
    def same(text: String, arrayForm: String): Seq[Row] = {
      val got = spark.sql(text).collect().toSeq
      assert(got == spark.sql(arrayForm).collect().toSeq, text)
      got
    }
    val grouped = same(
      """SELECT g, g2, MEDIAN(v) AS med,
        |  PERCENTILE_CONT(0.1) WITHIN GROUP (ORDER BY v) AS p10,
        |  PERCENTILE_DISC(0.5) WITHIN GROUP (ORDER BY v) AS d50,
        |  PERCENTILE_DISC(0.9) WITHIN GROUP (ORDER BY v) AS d90,
        |  percentile(v, 0.75) FILTER (WHERE v > 0) AS p75_pos,
        |  COUNT(*) AS n, SUM(v) AS s
        |FROM pct_w GROUP BY g, g2 ORDER BY g, g2""".stripMargin,
      """SELECT g, g2, pc[0] AS med, pc[1] AS p10, pd[0] AS d50, pd[1] AS d90,
        |  pf[0] AS p75_pos, n, s FROM (
        |  SELECT g, g2, percentile(v, array(0.5, 0.1)) AS pc,
        |    percentile_disc(array(0.5, 0.9)) WITHIN GROUP (ORDER BY v) AS pd,
        |    percentile(v, array(0.75)) FILTER (WHERE v > 0) AS pf,
        |    COUNT(*) AS n, SUM(v) AS s
        |  FROM pct_w GROUP BY g, g2) ORDER BY g, g2""".stripMargin)
    assert(grouped.exists(_.isNullAt(0))) // the NULL-key groups survive
    val empty = same(
      "SELECT MEDIAN(v) AS med, COUNT(*) AS n FROM pct_w WHERE v > 1e9",
      "SELECT percentile(v, array(0.5))[0] AS med, COUNT(*) AS n FROM pct_w WHERE v > 1e9")
    assert(empty === Seq(Row(null, 0L))) // one row over empty input
    same(
      """SELECT g, v, MEDIAN(v) OVER (PARTITION BY g) AS med FROM pct_w
        |ORDER BY g, v""".stripMargin,
      """SELECT g, v, percentile(v, array(0.5)) OVER (PARTITION BY g)[0] AS med
        |FROM pct_w ORDER BY g, v""".stripMargin)
  }

  test("percentile merge eligibility: FILTER clauses and mixed accuracies stay apart") {
    import org.apache.spark.sql.catalyst.plans.logical.Aggregate
    import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, ApproximatePercentile, Percentile}
    val df = pctDF
    df.createOrReplaceTempView("pct_t2")
    def buffers(sql: String): Int = {
      val opt = spark.sql(sql).queryExecution.optimizedPlan
      opt.collect { case a: Aggregate =>
        a.aggregateExpressions.flatMap(_.collect {
          case ae: AggregateExpression
              if ae.aggregateFunction.isInstanceOf[Percentile] ||
                ae.aggregateFunction.isInstanceOf[ApproximatePercentile] =>
            ae.resultId
        })
      }.flatten.distinct.size
    }
    // a FILTER'd aggregate sees different rows — must NOT merge with the
    // unfiltered one (and the values must stay right)
    val filtered =
      """SELECT g, percentile(v, 0.25) FILTER (WHERE v > 0) AS p25_pos,
        |       percentile(v, 0.75) AS p75 FROM pct_t2 GROUP BY g ORDER BY g""".stripMargin
    assert(buffers(filtered) == 2, "FILTER'd percentile must keep its own buffer")
    val viaFilter = spark.sql(filtered).collect()
    val manual = spark.sql(
      """SELECT t.g, p.p25_pos, t.p75 FROM
        |  (SELECT g, percentile(v, 0.75) AS p75 FROM pct_t2 GROUP BY g) t
        |  LEFT JOIN (SELECT g, percentile(v, 0.25) AS p25_pos
        |             FROM pct_t2 WHERE v > 0 GROUP BY g) p ON t.g = p.g
        |ORDER BY t.g""".stripMargin).collect()
    assert(viaFilter.toSeq == manual.toSeq)
    // different accuracies are different sketches — must not merge
    assert(buffers(
      """SELECT g, approx_percentile(v, 0.25, 100) AS x,
        |       approx_percentile(v, 0.75, 5000) AS y
        |FROM pct_t2 GROUP BY g""".stripMargin) == 2,
      "mixed-accuracy approx percentiles must keep separate sketches")
    // same accuracy merges (the positive control for the counter above)
    assert(buffers(
      """SELECT g, approx_percentile(v, 0.25, 100) AS x,
        |       approx_percentile(v, 0.75, 100) AS y
        |FROM pct_t2 GROUP BY g""".stripMargin) == 1)
  }

  test("checkpoint-idiom ops leave no cache behind across back-to-back calls") {
    // VERDICT r18 #3: a library caller running ops back-to-back WITHOUT
    // the harness's clearCache() must not accumulate storage. The
    // converted ops (localCheckpoint idiom) self-release through the
    // ContextCleaner once their plans are unreachable — assert every
    // block THESE calls pinned is eventually gone (growth check, not
    // absolute: other suites' adjudicated persist sites may own entries).
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    // ADVICE r19: build and drop every plan inside a nested frame so no
    // local on THIS frame can pin a localCheckpointed RDD through the
    // poll — reclamation then needs only one GC cycle plus the
    // ContextCleaner's queue drain, so the grace bound can be short
    // (≤6 s worst case, exits on first success) instead of 30 s of
    // hopeful polling against interpreter-frame temporaries.
    def runOps(): Unit = {
      val emb = Tables.load(spark, sfDir, "embeddings")
      val docs = Tables.load(spark, sfDir, "documents")
      VectorOps.cosineNearDupLsh(emb).collect()
      TextOps.distDrift(docs, "lang").collect()
      graft.ops.PipelineOps.importanceWeights(docs.withColumn("lang", lit("en"))).collect()
    }
    runOps()
    def leaked = sc.getPersistentRDDs.keySet -- before
    var tries = 0
    while (leaked.nonEmpty && tries < 24) { System.gc(); Thread.sleep(250); tries += 1 }
    assert(leaked.isEmpty, s"blocks pinned past the ops' lifetime: $leaked")
  }

  test("importance weights: target-like docs up-weight, off-distribution down-weight") {
    import graft.ops.PipelineOps
    // target (en) vocabulary vs off-distribution vocabulary: disjoint
    // word sets so bucket marginals separate cleanly
    val tgtText = "alpha beta gamma delta epsilon zeta"
    val offText = "omega psi chi phi upsilon tau"
    val base = (1L to 20L).map(i =>
      (i, if (i <= 10) tgtText else offText, if (i <= 10) "en" else "xx"))
    // probes carry lang 'xx' so neither changes the TARGET marginals;
    // both change raw marginals equally (same length)
    val probes = Seq(
      (100L, tgtText, "xx"), // target-like probe
      (101L, offText, "xx")) // off-distribution probe
    val df = (base ++ probes).toDF("doc_id", "text", "lang")
    val w = PipelineOps.importanceWeights(df).collect()
      .map(r => r.getLong(0) -> r).toMap
    def rel(id: Long) = w(id).getAs[Double]("w_rel")
    def copies(id: Long) = w(id).getAs[Long]("n_copies")
    assert(rel(100L) > rel(101L),
      s"target-like probe must out-weight off-distribution: ${rel(100L)} vs ${rel(101L)}")
    assert(rel(1L) === 1.0, "an en doc IS the most target-like (w_rel = w/w_max)")
    assert(copies(1L) >= copies(101L),
      "resampling must not favor the off-distribution doc")
    // APPLIED: the resampled epoch repeats up-weighted docs and thins
    // down-weighted ones; total mass ≈ n_docs by the grid normalization
    val epoch = PipelineOps.importanceResample(df).collect()
    val perDoc = epoch.groupBy(_.getLong(0)).view.mapValues(_.length).toMap
    assert(perDoc.getOrElse(100L, 0) >= perDoc.getOrElse(101L, 0))
    assert(math.abs(epoch.length - 22) <= 22 / 2,
      s"epoch mass should track corpus size, got ${epoch.length} for 22 docs")
    // repartition invariance: the weights are a pure function of content
    val a = PipelineOps.importanceWeights(df.repartition(7)).collect().toSeq
    val b = PipelineOps.importanceWeights(df.coalesce(1)).collect().toSeq
    assert(a === b)
  }

  test("importance weights against a separate target: in-corpus seed reduces to the predicate form") {
    import graft.ops.PipelineOps
    val docs = Tables.load(spark, sfDir, "documents").limit(200)
    // THEOREM (scaladoc): when the seed relation is exactly the corpus's
    // target slice, both marginals coincide with the in-corpus op's —
    // every corpus row still feeds raw, the same slice feeds tgt — so
    // the outputs must be row-identical, doubles included.
    val pred = "lang = 'en'"
    val a = PipelineOps.importanceWeights(docs, pred).collect().toSeq
    val b = PipelineOps.importanceWeightsAgainst(docs, docs.filter(pred))
      .collect().toSeq
    assert(a === b)
    // the genuinely-new capability: a DISJOINT seed. Target-vocabulary
    // corpus docs must out-weight off-distribution ones.
    val seed = (1L to 10L).map(i => (i, "alpha beta gamma delta epsilon"))
      .toDF("doc_id", "text")
    val corpus = Seq(
      (100L, "alpha beta gamma delta epsilon"),  // seed-like
      (101L, "omega psi chi phi upsilon"),       // off-distribution
      (102L, "alpha beta omega psi chi")         // mixed
    ).toDF("doc_id", "text")
    val w = PipelineOps.importanceWeightsAgainst(corpus, seed).collect()
      .map(r => r.getLong(0) -> r.getAs[Double]("w_rel")).toMap
    assert(w(100L) > w(102L) && w(102L) > w(101L),
      s"seed-likeness must order the weights, got $w")
    assert(w(100L) === 1.0, "the most seed-like doc defines w_max")
  }

  test("pipeline full: epoch stays inside the cap/curate survivor sets and tracks their mass") {
    import graft.ops.PipelineOps
    val docs = Tables.load(spark, sfDir, "documents").limit(300)
    val epochIds = PipelineOps.pipelineFull(docs).select("doc_id")
      .distinct().collect().map(_.getLong(0)).toSet
    val curatedIds = PipelineOps.curate(docs).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    val enriched = PipelineOps.curate(docs)
      .join(docs.select("doc_id", "lang", "source"), Seq("doc_id"))
      .selectExpr("doc_id", "clean_text as text", "lang", "source")
    val capIds = PipelineOps.sourceCap(enriched, PipelineOps.DefaultSourceCap)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // stage containment: resampled docs ⊆ cap survivors ⊆ curated docs
    assert(capIds.subsetOf(curatedIds))
    assert(epochIds.subsetOf(capIds),
      s"epoch leaked past the cap: ${epochIds -- capIds}")
    // the grid normalization promises Σ copies ≈ |capped| (within half)
    val nCopies = PipelineOps.pipelineFull(docs).count()
    assert(math.abs(nCopies - capIds.size) <= capIds.size / 2,
      s"epoch mass $nCopies vs capped ${capIds.size}")
  }

  test("importance weights: long docs exercise the exponent-carry fold without overflow") {
    import graft.ops.PipelineOps
    // one extreme doc: 1500 repetitions of one word flood the RAW
    // marginals for its buckets (its 1499 'alpha alpha' bigrams exist
    // nowhere in the target slice), so ~3000 sub-1 ratio multiplies
    // drive the raw product far BELOW double range (~1e-500). A plain
    // double product would underflow to 0; the (m, e) carry must absorb
    // it exactly (e strongly negative, m in the canonical band).
    val longTgt = Array.fill(1500)("alpha").mkString(" ")
    val df = ((1L to 8L).map(i => (i, "alpha beta gamma", "en")) ++
      (9L to 16L).map(i => (i, "omega psi chi", "xx")) :+
      ((17L, longTgt, "xx"))).toDF("doc_id", "text", "lang")
    val w = PipelineOps.importanceWeights(df).collect()
      .map(r => r.getLong(0) -> r).toMap
    val m17 = w(17L).getAs[Double]("m")
    val e17 = w(17L).getAs[Long]("e")
    assert(e17 < -15L, // 2^(64·-15) ≈ 1e-289: already past double underflow
      s"3000 sub-1 ratio multiplies must carry the exponent down, got e=$e17")
    assert(m17 >= 1.0 && m17 < 1.8446744073709552e19, "canonical mantissa band")
    assert(w(17L).getAs[Double]("w_rel") === 0.0 && w(17L).getAs[Long]("n_copies") === 0L,
      "the off-distribution extreme doc drops out of the resampled epoch")
    // a short target doc is the max; every mantissa stays canonical/finite
    assert(w(1L).getAs[Double]("w_rel") === 1.0)
    w.values.foreach { r =>
      val m = r.getAs[Double]("m")
      assert(m >= 1.0 && m < 1.8446744073709552e19 && !m.isNaN && !m.isInfinite)
    }
  }

  test("pipeline mix = importance weights over exactly the capped corpus") {
    import graft.ops.PipelineOps
    val docs = Tables.load(spark, sfDir, "documents")
    val cap = 7L
    val mix = PipelineOps.pipelineMix(docs, cap).collect()
    // composition identity: cap first, then weights over the survivors
    val keep = PipelineOps.sourceCap(docs, cap).select("doc_id")
    val manual = PipelineOps
      .importanceWeights(docs.join(keep, Seq("doc_id"), "left_semi"))
      .selectExpr("doc_id", "w_rel", "boost", "n_copies")
      .orderBy("doc_id").collect()
    assert(mix.toSeq === manual.toSeq)
    // the order is semantic: marginals over the CAPPED corpus differ
    // from marginals over the full corpus for at least one survivor
    val uncapped = PipelineOps.importanceWeights(docs).collect()
      .map(r => r.getLong(0) -> r.getAs[Double]("boost")).toMap
    assert(mix.exists(r => uncapped(r.getLong(0)) != r.getAs[Double]("boost")),
      "capping must change the raw-distribution estimate the weights divide by")
  }

  test("source cap keeps exactly the cap-smallest md5 ranks per source, any partitioning") {
    import graft.ops.PipelineOps
    val df = ((1L to 10L).map(i => (i, "a")) ++ Seq(20L, 21L, 22L).map(i => (i, "b")))
      .toDF("doc_id", "source").selectExpr("source", "doc_id")
    val kept = PipelineOps.sourceCap(df, cap = 5).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    // md5-rank order precomputed: a → 6,9,7,4,1,...; b → 21,20,22
    assert(kept.filter(_._1 == "a").sortBy(_._3).map(_._2).toSeq ===
      Seq(6L, 9L, 7L, 4L, 1L))
    assert(kept.filter(_._1 == "b").sortBy(_._3).map(_._2).toSeq ===
      Seq(21L, 20L, 22L)) // below cap: the whole source survives
    // repartition invariance (the determinism contract)
    val k2 = PipelineOps.sourceCap(df.repartition(6), cap = 5).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(kept.sortBy(t => (t._1, t._3)).toSeq === k2.sortBy(t => (t._1, t._3)).toSeq)
    // the report agrees with the survivor list
    val rep = PipelineOps.sourceCapReport(df, cap = 5).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(rep("a") === ((10L, 5L, 5L)) && rep("b") === ((3L, 3L, 0L)))
  }
}
