package graft

import java.nio.file.Files

import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.config.InsertMethod
import graft.io.CsvIO
import graft.sql.RedshiftSql

/** Property tests (SURVEY §5.2): algebraic laws that hold for ALL inputs,
  * generated by ScalaCheck — the dialect rewriter's identity/idempotence on
  * arbitrary safe SQL, insert-mode algebra, CSV round-trips, and the array
  * kernels' defining invariances. Sampling is seeded, so failures reproduce.
  */
class PropertySpec extends SparkSpecBase {
  import spark.implicits._

  /** Deterministic sampler (the scalatest-scalacheck bridge isn't on the
    * offline classpath; seeded Gen sampling gives the same coverage). */
  private def forAll[A](g: Gen[A], n: Int = 20)(f: A => Unit): Unit =
    (0 until n).foreach { i =>
      g.apply(Gen.Parameters.default, Seed(42L + i)).foreach(f)
    }
  private def forAll2[A, B](ga: Gen[A], gb: Gen[B])(f: (A, B) => Unit): Unit =
    (0 until 20).foreach { i =>
      for {
        a <- ga.apply(Gen.Parameters.default, Seed(142L + i))
        b <- gb.apply(Gen.Parameters.default, Seed(9142L + i))
      } f(a, b)
    }

  private val ident: Gen[String] =
    for { h <- Gen.alphaLowerChar; t <- Gen.listOfN(5, Gen.alphaNumChar) }
      yield (h :: t).mkString

  // SQL built only from non-dialect tokens: the rewriter must be identity.
  private val safeSql: Gen[String] = for {
    cols <- Gen.nonEmptyListOf(ident).map(_.take(4).distinct)
    tbl <- ident
    n <- Gen.choose(1, 99)
  } yield s"SELECT ${cols.mkString(", ")} FROM $tbl WHERE ${cols.head} > $n ORDER BY ${cols.head} LIMIT $n"

  test("rewriter is identity and idempotent on arbitrary dialect-free SQL") {
    forAll(safeSql) { q =>
      assert(RedshiftSql.rewrite(q) === q)
      assert(RedshiftSql.rewrite(RedshiftSql.rewrite(q)) === RedshiftSql.rewrite(q))
    }
  }

  test("tokenizer: numbers end at letter boundaries, exponents lex whole, render is lossless") {
    import graft.sql.SqlTokens._
    val cases = Seq(
      "SELECT 1e5, 1.5E-3, 2e+10 FROM t",
      "SELECT 123abc FROM t",
      "SELECT TOP 5x FROM t",
      "SELECT 1e, 1.e5, .5, a.1 FROM t")
    cases.foreach(s => assert(render(tokenize(s)) === s))
    def kinds(s: String) = tokenize(s).filterNot(_.kind == Ws)
    assert(kinds("1e5") === Vector(Tok(Num, "1e5")))
    assert(kinds("1.5E-3") === Vector(Tok(Num, "1.5E-3")))
    assert(kinds("2e+10") === Vector(Tok(Num, "2e+10")))
    // a trailing identifier is NOT part of the number (the r3 latent trap:
    // `TOP 5x` must not make `5x` one Num token)
    assert(kinds("123abc") === Vector(Tok(Num, "123"), Tok(Word, "abc")))
    // a bare `e` with no digits stays an identifier, not a malformed exponent
    assert(kinds("1e") === Vector(Tok(Num, "1"), Tok(Word, "e")))
    // property: any digit-run + identifier splits exactly at the letter
    // ('x' prefix keeps the identifier from starting a valid exponent)
    forAll(ident) { id0 =>
      val id = "x" + id0
      assert(tokenize(s"42$id").filterNot(_.kind == Ws).head === Tok(Num, "42"))
      assert(render(tokenize(s"SELECT 42$id FROM t")) === s"SELECT 42$id FROM t")
    }
  }

  test("dollar quoting: lossless render, bodies verbatim, glued $ never swallows") {
    import graft.sql.SqlTokens._
    // arbitrary body content — semicolons, quotes, lone $ — survives as
    // ONE DollarStr token and round-trips losslessly
    val bodyGen = Gen.listOf(Gen.oneOf(Gen.alphaNumChar,
      Gen.oneOf(' ', ';', '\'', '"', '(', ')', '$', '.', '>', '='))).map(_.mkString)
    forAll(bodyGen) { b0 =>
      val b = b0.replace("$$", "$ $") // an embedded closer legitimately ends the quote
      val s = "CREATE FUNCTION f (int) RETURNS int AS $$ select " + b +
        " $$ LANGUAGE sql"
      assert(render(tokenize(s)) === s)
      val ds = tokenize(s).filter(_.kind == DollarStr)
      assert(ds.length === 1, s"expected one dollar-quoted body in: $s")
      assert(dollarBody(ds.head) === " select " + b + " ")
    }
    // a $ glued to an identifier (Redshift identifiers may contain $)
    // NEVER opens a quote — the statement separator survives
    forAll(ident) { id =>
      val s = "SELECT a$" + id + "$ FROM t; SELECT 1"
      val toks = tokenize(s)
      assert(!toks.exists(_.kind == DollarStr), s"swallowed: $s")
      assert(render(toks) === s)
      assert(toks.exists(t => t.kind == Sym && t.text == ";"))
    }
  }

  test("string literals survive the rewriter verbatim, whatever they contain") {
    val literal = Gen.listOf(Gen.oneOf(Gen.alphaNumChar, Gen.oneOf(' ', '%', '_', '(', ')')))
      .map(_.mkString)
    forAll(literal) { s =>
      val q = s"SELECT 'TOP 5 GETDATE() SIMILAR TO $s' AS c FROM t"
      assert(RedshiftSql.rewrite(q) === q)
    }
  }

  test("insert-mode algebra: append composes, replace is idempotent") {
    val rows = Gen.nonEmptyListOf(Gen.choose(0, 1000)).map(_.take(20))
    forAll(rows, n = 4) { xs =>
      val df = xs.toDF("v")
      df.write.mode(InsertMethod.Replace.saveMode).saveAsTable("prop_modes")
      df.write.mode(InsertMethod.Append.saveMode).saveAsTable("prop_modes")
      assert(spark.table("prop_modes").count() === 2L * xs.size) // append = concat
      df.write.mode(InsertMethod.Replace.saveMode).saveAsTable("prop_modes")
      df.write.mode(InsertMethod.Replace.saveMode).saveAsTable("prop_modes")
      assert(spark.table("prop_modes").count() === xs.size.toLong) // replace idempotent
    }
  }

  test("csv round-trip is the identity on typed rows") {
    val rows = Gen.nonEmptyListOf(
      for { i <- Gen.choose(-1000000L, 1000000L); s <- ident; d <- Gen.choose(-1e6, 1e6) }
        yield (i, s, math.rint(d * 100) / 100)).map(_.take(30))
    forAll(rows, n = 4) { xs =>
      val dir = Files.createTempDirectory("graft_prop_").toString
      val df = xs.toDF("i", "s", "d")
      CsvIO.write(df, s"$dir/rt.csv", header = true)
      val back = CsvIO.read(spark, Seq(s"$dir/rt.csv"))
        .selectExpr("cast(i as bigint) as i", "s", "cast(d as double) as d")
        .as[(Long, String, Double)].collect().toSet
      assert(back === xs.toSet)
      // and with a custom separator (the UNLOAD delimiter path)
      CsvIO.write(df, s"$dir/rt.psv", header = true, sep = "|")
      val backPsv = spark.read.option("header", true).option("sep", "|")
        .csv(s"$dir/rt.psv")
        .selectExpr("cast(i as bigint) as i", "s", "cast(d as double) as d")
        .as[(Long, String, Double)].collect().toSet
      assert(backPsv === xs.toSet)
    }
  }

  test("quantize kernel: codes bounded, reconstruction within step/2, for arbitrary vectors") {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    val vecGen = Gen.nonEmptyListOf(Gen.chooseNum(-1e6, 1e6)).map(_.take(64))
    forAll(vecGen) { xs =>
      val row = graft.sql.expressions.ArrayKernels.quantizeI8(
        new GenericArrayData(xs.map(x => x: Any).toArray))
      val (qmin, qstep) = (row.getDouble(0), row.getDouble(1))
      val codes = row.getArray(2)
      assert(codes.numElements() === xs.length)
      xs.indices.foreach { i =>
        val c = codes.getInt(i)
        assert(c >= 0 && c <= 255, s"code $c out of range")
        val back = qmin + c * qstep
        assert(math.abs(back - xs(i)) <= qstep / 2 + 1e-9 * math.abs(xs(i)) + 1e-12,
          s"reconstruction off: ${xs(i)} -> $c -> $back (step $qstep)")
      }
    }
    // constant vectors quantize to all-zero codes with step 0
    val const = graft.sql.expressions.ArrayKernels.quantizeI8(
      new GenericArrayData(Array[Any](3.5, 3.5, 3.5)))
    assert(const.getDouble(1) === 0.0)
    assert((0 until 3).forall(const.getArray(2).getInt(_) === 0))
    // non-finite elements raise (an Inf bound would make step Inf and
    // Math.round(NaN) would silently collapse every code to 0)
    for (bad <- Seq(Double.PositiveInfinity, Double.NegativeInfinity, Double.NaN)) {
      val e = intercept[IllegalArgumentException] {
        graft.sql.expressions.ArrayKernels.quantizeI8(
          new GenericArrayData(Array[Any](1.0, bad, 2.0)))
      }
      assert(e.getMessage.contains("index 1"))
    }
  }

  test("minhash_sig distributes over union as element-wise min") {
    val hashes = Gen.nonEmptyListOf(Gen.choose(0L, (1L << 60) - 1)).map(_.take(50))
    forAll2(hashes, hashes) { (a, b) =>
      val df = Seq((a, b)).toDF("a", "b")
      val r = df.selectExpr(
        "minhash_sig(concat(a, b), 8) as united",
        "zip_with(minhash_sig(a, 8), minhash_sig(b, 8), (x, y) -> least(x, y)) as minned")
        .collect()(0)
      assert(r.getSeq[Long](0) === r.getSeq[Long](1))
    }
  }

  test("span dedup equals an independent brute force on random corpora") {
    // Small vocab forces genuine cross-doc n-gram repeats; the reference
    // implementation below shares NOTHING with the Spark plan (plain Scala
    // sets/loops vs shuffle + window), so agreement gates the whole
    // fingerprint → support → islands pipeline, not a re-derivation.
    val n = 3
    val corpus: Gen[List[List[String]]] = Gen.listOfN(12,
      Gen.choose(1, 20).flatMap(len =>
        Gen.listOfN(len, Gen.choose(0, 6).map(i => s"w$i"))))
    forAll(corpus, n = 10) { docs =>
      val df = docs.zipWithIndex
        .map { case (ws, i) => (i.toLong, ws.mkString(" ")) }
        .toDF("doc_id", "text")
      val got = graft.ops.DedupOps.spanDedup(df, n).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))

      // brute force: n-gram → set of docs; matched starts; manual islands
      val grams: Map[Int, Seq[(Int, List[String])]] = docs.zipWithIndex.map {
        case (ws, i) => i -> ws.sliding(n).filter(_.length == n)
          .zipWithIndex.map { case (g, p) => (p, g) }.toSeq
      }.toMap
      val support = grams.values.flatten.groupBy(_._2)
        .map { case (g, occ) =>
          g -> grams.filter(_._2.exists(_._2 == g)).keySet }
      val want = grams.toSeq.sortBy(_._1).flatMap { case (d, poss) =>
        val matched = poss.collect {
          case (p, g) if support(g).size >= 2 => p
        }.sorted
        // islands over consecutive matched starts
        val spans = matched.foldLeft(List.empty[(Int, Int)]) {
          case ((s, e) :: rest, p) if p == e + 1 => (s, p) :: rest
          case (acc, p) => (p, p) :: acc
        }.reverse
        spans.map { case (s, e) =>
          (d.toLong, s.toLong, (e + n - 1).toLong, (e - s + n).toLong) }
      }
      assert(got.toSeq === want,
        s"corpus: ${docs.map(_.mkString(" ")).mkString(" | ")}")
    }
  }

  test("span cut invariants: counts add up, owners keep text, no cross-doc repeats remain") {
    val n = 3
    val corpus: Gen[List[List[String]]] = Gen.listOfN(10,
      Gen.choose(1, 18).flatMap(len =>
        Gen.listOfN(len, Gen.choose(0, 5).map(i => s"w$i"))))
    forAll(corpus, n = 8) { docs =>
      val df = docs.zipWithIndex
        .map { case (ws, i) => (i.toLong, ws.mkString(" ")) }
        .toDF("doc_id", "text")
      val out = graft.ops.DedupOps.spanCut(df, n).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      assert(out.map(_._1).toSeq === docs.indices.map(_.toLong))
      out.zip(docs).foreach { case ((_, clean, nCut, nKept), ws) =>
        assert(nCut + nKept === ws.length.toLong)  // every token accounted for
        val keptTokens = if (clean.isEmpty) 0 else clean.split(" ").length
        assert(keptTokens.toLong === nKept)
      }
      // keep-first: the LOWEST doc_id containing any shared n-gram is an
      // owner for it, so doc 0 is never cut below its full length unless a
      // shingle it holds is owned even lower — impossible: doc 0 IS the min
      assert(out.head._3 === 0L, s"doc 0 must keep all tokens: ${out.head}")
      // after cutting, re-running span dedup on the cleaned corpus finds
      // nothing spanning the same fingerprints in ≥2 docs ONLY IF the cut
      // text cannot re-form shared n-grams by adjacency; that re-formation
      // is possible (cutting interior tokens splices neighbors), so the
      // honest invariant is the token accounting + ownership above.
    }
  }

  test("simhash60 is order-invariant; array_dot is symmetric") {
    val hashes = Gen.nonEmptyListOf(Gen.choose(0L, (1L << 60) - 1)).map(_.take(40))
    forAll(hashes) { hs =>
      val df = Seq(Tuple1(hs)).toDF("h")
      val r = df.selectExpr("simhash60(h) as fwd", "simhash60(reverse(h)) as rev").collect()(0)
      assert(r.getLong(0) === r.getLong(1))
    }
    val vecs = Gen.listOfN(8, Gen.choose(-10.0, 10.0))
    forAll2(vecs, vecs) { (a, b) =>
      val df = Seq((a, b)).toDF("a", "b")
      val r = df.selectExpr("array_dot(a, b) as ab", "array_dot(b, a) as ba").collect()(0)
      assert(r.getDouble(0) === r.getDouble(1))
    }
  }

  test("pigeonhole geometry: Scala firstBlock and block keys equal the SQL Spark evaluates") {
    import graft.ops.DedupOps
    // xors with a few set bits inside the w-bit width (so blocks do agree),
    // or arbitrary longs
    val sample: Gen[(Int, Int, Long)] = for {
      w <- Gen.choose(4, 64)
      h <- Gen.choose(0, math.min(7, w - 1))
      bits <- Gen.choose(0, 2 * h + 2).flatMap(n => Gen.listOfN(n, Gen.choose(0, w - 1)))
      x <- Gen.oneOf(Gen.const(bits.foldLeft(0L)((a, b) => a | (1L << b))), Gen.long)
    } yield (w, h, x)
    val cases = (0 until 400).flatMap(i => sample(Gen.Parameters.default, Seed(7L + i)))
    val firsts = cases.groupBy(_._2).toSeq.flatMap { case (h, rs) =>
      rs.map { case (w, _, x) => (w, x) }.toDF("w", "x")
        .selectExpr("w", "x", s"${DedupOps.firstBlockSql("x", h, "w")} as fb",
          s"transform(${DedupOps.blockKeysSql("x", h, "w")}, b -> b.key) as keys")
        .collect().toSeq.map { r =>
          val (w, x) = (r.getInt(0), r.getLong(1))
          val fb = DedupOps.firstBlock(x, h, w)
          assert(r.getInt(2) === fb, s"firstBlock w=$w h=$h x=$x")
          assert(r.getSeq[Long](3) === (0 to h).map(i => DedupOps.blockKey(x, i, h + 1, w)),
            s"block keys w=$w h=$h x=$x")
          // pigeonhole: an in-width xor of ≤ h bits leaves some block zero
          if ((w == 64 || x >>> w == 0) && java.lang.Long.bitCount(x) <= h)
            assert(fb >= 0, s"no agreeing block w=$w h=$h x=$x")
          fb
        }
    }
    assert(firsts.contains(-1) && firsts.exists(_ > 0), s"uncovered: ${firsts.distinct}")
  }

  test("rangePrefix equals the per-key running sum on arbitrary tie-collapsed blocks") {
    // The defining law of the range-partitioned prefix primitive every
    // percentile/gini/packing/range-frame path now rides: for ANY set of
    // distinct (key, value) blocks — null keys included — __cum is the
    // per-key inclusive running sum in value order and __n the per-key
    // total, regardless of where the sampled range bounds fall.
    val rowsGen = Gen.listOfN(120, for {
      k <- Gen.oneOf(Some("a"), Some("b"), Some("c"), None)
      v <- Gen.choose(-50, 50)
      c <- Gen.choose(1L, 5L)
    } yield (k, v, c))
    forAll(rowsGen, n = 8) { rs =>
      val blocks = rs.groupBy(t => (t._1, t._2))
        .map { case ((k, v), g) => (k.orNull, v, g.map(_._3).sum) }.toSeq
      val df = blocks.toDF("k", "v", "c")
      val got = graft.ops.PercentileOps.rangePrefix(df, "k", "v", "c")
        .select("k", "v", "__cum", "__n")
        .collect()
        .map(r => (Option(r.getString(0)), r.getInt(1)) ->
          (r.getLong(2), r.getLong(3))).toMap
      val want = blocks.groupBy(t => Option(t._1)).flatMap { case (k, g) =>
        val sorted = g.sortBy(_._2)
        val tot = sorted.map(_._3).sum
        sorted.scanLeft(0L)(_ + _._3).tail.zip(sorted).map {
          case (cum, (_, v, _)) => (k, v) -> (cum, tot)
        }
      }
      assert(got === want)
    }
  }

  test("cdc_bounds is prefix-stable: appending a suffix never moves earlier boundaries") {
    // The defining CDC property (dual of the OpsSpec edit-locality case):
    // a boundary at position i depends only on the trailing w-gram, so
    // every boundary of `a` is a boundary of `a ++ b` and no new boundary
    // can appear at or before len(a) — for ARBITRARY ascii strings.
    val ascii = Gen.listOf(Gen.choose(32.toChar, 126.toChar)).map(_.mkString)
    forAll2(ascii, ascii) { (a, b) =>
      val df = Seq((a, a + b)).toDF("a", "ab")
      val r = df.selectExpr(
        "cdc_bounds(a, 8, 4) as ba",
        "cdc_bounds(ab, 8, 4) as bab").collect()(0)
      val (ba, bab) = (r.getSeq[Int](0), r.getSeq[Int](1))
      assert(bab.filter(_ <= a.length) === ba,
        s"a='$a' b='$b': ${ba.toList} vs ${bab.toList}")
    }
  }
}
