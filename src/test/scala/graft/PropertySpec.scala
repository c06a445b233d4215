package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalacheck.Gen

import graft.ops.Util

/** SURVEY §5.3(2): self-oracle property tests — engine invariants that hold
  * for arbitrary inputs, checked on generated data via createDataFrame. */
class PropertySpec extends SparkSuite {

  /** Minimal property runner (the scalatest-scalacheck bridge isn't in the
    * offline dep set): evaluate the body over n generator samples. */
  private def forAll[A](gen: Gen[A], n: Int = 15)(body: A => Unit): Unit = {
    val params = org.scalacheck.Gen.Parameters.default
    var i = 0
    var seed = org.scalacheck.rng.Seed(42L)
    while (i < n) {
      gen.apply(params, seed) match {
        case Some(a) => body(a); i += 1
        case None =>
      }
      seed = seed.next
    }
  }

  private def forAll[A, B](ga: Gen[A], gb: Gen[B])(body: (A, B) => Unit): Unit =
    forAll(for { a <- ga; b <- gb } yield (a, b), 15) { case (a, b) => body(a, b) }


  private lazy val _ = spark // force session init before generators run
  import org.apache.spark.sql.Row

  private val rowsGen = Gen.nonEmptyListOf(for {
    k <- Gen.choose(0, 5)
    v <- Gen.choose(-100.0, 100.0)
  } yield (k, v))

  test("window running sum final row equals the group sum") {
    import spark.implicits._
    forAll(rowsGen) { rows =>
      val df = rows.zipWithIndex
        .map { case ((k, v), i) => (k, v, i.toLong) }.toDF("k", "v", "id")
      val w = Window.partitionBy($"k").orderBy($"id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val last = df.withColumn("run", sum($"v").over(w))
        .withColumn("rn", row_number().over(
          Window.partitionBy($"k").orderBy($"id".desc)))
        .filter($"rn" === 1).select($"k", $"run")
      val grp = df.groupBy($"k").agg(sum($"v").as("tot"))
      val joined = last.join(grp, "k")
        .filter(abs($"run" - $"tot") > 1e-9).count()
      assert(joined == 0)
    }
  }

  test("union-distinct equals dropDuplicates of unionAll") {
    import spark.implicits._
    forAll(rowsGen, rowsGen) { (a, b) =>
      val da = a.toDF("k", "v"); val db = b.toDF("k", "v")
      val u1 = da.union(db).distinct()
      val u2 = da.unionAll(db).dropDuplicates()
      assert(u1.exceptAll(u2).count() == 0 && u2.exceptAll(u1).count() == 0)
    }
  }

  test("exact dedup is idempotent: f(f(x)) == f(x)") {
    import spark.implicits._
    forAll(Gen.nonEmptyListOf(Gen.oneOf("a", "b", "A ", " b", "c"))) { texts =>
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      def dedup(d: org.apache.spark.sql.DataFrame) =
        d.groupBy(lower(trim($"text")).as("n"))
          .agg(min($"doc_id").as("doc_id"))
          .select($"doc_id", $"n".as("text"))
      val once = dedup(df)
      val twice = dedup(once)
      assert(once.exceptAll(twice).count() == 0 &&
        twice.exceptAll(once).count() == 0)
    }
  }

  test("as-of semantics: matched ts is the max signup ts <= probe ts") {
    import spark.implicits._
    val gen = for {
      sigs <- Gen.nonEmptyListOf(Gen.choose(0L, 1000L))
      purs <- Gen.nonEmptyListOf(Gen.choose(0L, 1000L))
    } yield (sigs.distinct, purs)
    forAll(gen) { case (sigs, purs) =>
      val sdf = sigs.toDF("sts").withColumn("user_id", lit(1L))
        .withColumn("side", lit(0))
      val pdf = purs.zipWithIndex.map { case (t, i) => (t, i.toLong) }
        .toDF("sts", "pid").withColumn("user_id", lit(1L))
        .withColumn("side", lit(1))
      val w = Window.partitionBy($"user_id").orderBy($"sts", $"side")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val got = sdf.select($"user_id", $"sts", $"side", lit(null).cast("long").as("pid"))
        .unionAll(pdf.select($"user_id", $"sts", $"side", $"pid"))
        .withColumn("asof", last(when($"side" === 0, $"sts"), ignoreNulls = true).over(w))
        .filter($"side" === 1)
        .select($"pid", $"sts", $"asof")
        .collect().map(r => r.getLong(0) ->
          (r.getLong(1), if (r.isNullAt(2)) None else Some(r.getLong(2)))).toMap
      purs.zipWithIndex.foreach { case (t, i) =>
        val expected = sigs.filter(_ <= t).sorted.lastOption
        val asof = got(i.toLong)._2
        assert(asof == expected, s"probe $t: got $asof want $expected")
      }
    }
  }

  test("DotProduct expression is bit-identical to the HOF aggregate(zip_with) form") {
    import spark.implicits._
    // the codegen expression replaced the HOF in every embedding query on
    // the promise of IDENTICAL semantics (left-to-right summation, null on
    // length mismatch) — check it on arbitrary vectors, including values
    // where summation order matters in floating point
    val vecGen = for {
      n <- Gen.choose(1, 64)
      xs <- Gen.listOfN(n, Gen.choose(-1e6, 1e6))
      ys <- Gen.listOfN(n, Gen.choose(-1e6, 1e6))
    } yield (xs, ys)
    forAll(vecGen) { case (xs, ys) =>
      val df = Seq((xs, ys)).toDF("a", "b")
      val hof = df.select(
        aggregate(zip_with($"a", $"b", (x, y) => x * y),
          lit(0.0), (acc, v) => acc + v)).head.getDouble(0)
      val native = df.select(org.apache.spark.sql.graft.GraftSql.column(
        graft.functions.DotProduct(
          org.apache.spark.sql.graft.GraftSql.expression($"a"),
          org.apache.spark.sql.graft.GraftSql.expression($"b"))))
        .head.getDouble(0)
      assert(java.lang.Double.doubleToLongBits(hof) ==
        java.lang.Double.doubleToLongBits(native),
        s"dot mismatch: hof=$hof native=$native for $xs · $ys")
    }
    // length mismatch -> null, exactly like zip_with's null padding
    val r = Seq((Seq(1.0, 2.0), Seq(1.0))).toDF("a", "b")
      .select(org.apache.spark.sql.graft.GraftSql.column(
        graft.functions.DotProduct(
          org.apache.spark.sql.graft.GraftSql.expression($"a"),
          org.apache.spark.sql.graft.GraftSql.expression($"b")))).head
    assert(r.isNullAt(0), "length mismatch must yield null")
  }

  test("ShingleDistinctCount equals the HOF size(array_distinct(transform)) form") {
    import spark.implicits._
    // the native expression replaced q_udtf's CodegenFallback HOF chain on
    // the promise of IDENTICAL semantics: words = split(text," ",-1)
    // (empty + trailing words kept), shingle = 3 words joined with " ",
    // count = distinct shingles. Exercise adversarial spacing (leading /
    // trailing / consecutive spaces), repeats, multi-byte UTF-8.
    val wordGen = Gen.oneOf("a", "bb", "ccc", "", "émü", "字", "a")
    val textGen = for {
      n <- Gen.choose(0, 30)
      ws <- Gen.listOfN(n, wordGen)
      lead <- Gen.oneOf("", " ", "  ")
      trail <- Gen.oneOf("", " ", "  ")
    } yield lead + ws.mkString(" ") + trail
    forAll(textGen, 40) { text =>
      val df = Seq(Tuple1(text)).toDF("text")
      val ws = split($"text", " ")
      val sh = when(size(ws) >= 3,
        transform(sequence(lit(1), size(ws) - 2),
          i => concat_ws(" ", slice(ws, i, lit(3))))).otherwise(array())
      val hof = df.select(size(array_distinct(sh)).cast("long")).head.getLong(0)
      val native = df.select(org.apache.spark.sql.graft.GraftSql.column(
        graft.functions.ShingleDistinctCount(
          org.apache.spark.sql.graft.GraftSql.expression($"text"), 3)))
        .head.getLong(0)
      assert(hof == native, s"distinct-shingle mismatch on '$text': " +
        s"hof=$hof native=$native")
    }
    // NULL text -> NULL (the query filters such docs out either way)
    val r = Seq(Tuple1(null: String)).toDF("text")
      .select(org.apache.spark.sql.graft.GraftSql.column(
        graft.functions.ShingleDistinctCount(
          org.apache.spark.sql.graft.GraftSql.expression($"text"), 3))).head
    assert(r.isNullAt(0), "null text must yield null")
  }

  test("q_udtf native form row-matches the round-18 HOF formulation on the fixtures") {
    import spark.implicits._
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val ws = split($"text", " ")
    val sh = when(size(ws) >= 3,
      transform(sequence(lit(1), size(ws) - 2),
        i => concat_ws(" ", slice(ws, i, lit(3))))).otherwise(array())
    val old = docs.select($"doc_id", sh.as("sh"))
      .filter(size($"sh") > 0)
      .select($"doc_id", size($"sh").cast("long").as("n_shingles"),
        size(array_distinct($"sh")).cast("long").as("n_distinct"))
      .orderBy($"doc_id").collect()
    val now = SparkEntry.queries("q_udtf")(spark, sfDir).collect()
    assert(old.length == now.length,
      s"row count drift: old=${old.length} now=${now.length}")
    old.zip(now).foreach { case (a, b) => assert(a == b, s"row drift: $a vs $b") }
  }

  test("WordPairGenerator equals the HOF explode(transform(struct)) bigram form") {
    import spark.implicits._
    // the native generator replaced the bigram HOF chain in the bigram LM,
    // perplexity gate and collocations on the promise of IDENTICAL
    // semantics: words = split(text, " ") (empty + trailing words kept),
    // one (w1, w2) row per adjacent pair, none for < 2 words or NULL.
    val wordGen = Gen.oneOf("a", "bb", "ccc", "", "émü", "字")
    val textGen = for {
      n <- Gen.choose(0, 20)
      ws <- Gen.listOfN(n, wordGen)
      lead <- Gen.oneOf("", " ", "  ")
      trail <- Gen.oneOf("", " ", "  ")
    } yield lead + ws.mkString(" ") + trail
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "bigrams2", exprs => graft.ops.WordPairGenerator(exprs.head), "scala_udf")
    forAll(textGen, 40) { text =>
      val df = Seq(Tuple1(text)).toDF("text")
      val ws = split($"text", " ")
      val hof = df.filter(size(ws) >= 2)
        .select(explode(transform(sequence(lit(1), size(ws) - 1),
          i => struct(element_at(ws, i).as("w1"),
            element_at(ws, i + 1).as("w2")))).as("b"))
        .select($"b.w1", $"b.w2").collect().map(r => (r.getString(0), r.getString(1)))
      val native = df.selectExpr("bigrams2(text) AS (w1, w2)")
        .collect().map(r => (r.getString(0), r.getString(1)))
      assert(hof.toSeq == native.toSeq,
        s"bigram mismatch on '$text': hof=${hof.toSeq} native=${native.toSeq}")
    }
    // NULL text emits no rows, like the old filter(size >= 2)
    val n = Seq(Tuple1(null: String)).toDF("text")
      .selectExpr("bigrams2(text) AS (w1, w2)").count()
    assert(n == 0, "null text must emit no bigram rows")
  }

  test("q_text_repetition native form row-matches the relational formulation") {
    import spark.implicits._
    // the RepetitionStats expression replaced two explode→groupBy→groupBy
    // pipelines + a join; replay the OLD formulation on the fixture corpus
    // (plus adversarial spacing rows) and diff every output row
    val fixture = spark.read.parquet(s"$sfDir/documents.parquet")
      .select($"doc_id", $"text")
    val extra = Seq(
      (900001L, "a a a a"), (900002L, "a"), (900003L, ""),
      (900004L, " lead"), (900005L, "trail "), (900006L, "a  b  a  b"),
      (900007L, null.asInstanceOf[String]), (900008L, "x y x y x y"))
      .toDF("doc_id", "text")
    val docs = fixture.unionAll(extra)
    val d = docs.select($"doc_id", split($"text", " ").as("ws"))
    val wstats = d.select($"doc_id", explode($"ws").as("w"))
      .groupBy($"doc_id", $"w").agg(count(lit(1)).as("c"))
      .groupBy($"doc_id")
      .agg(sum($"c").as("n_toks"), count(lit(1)).as("n_distinct"),
        max($"c").as("top_w"))
    val bigrams = when(size($"ws") >= 2,
      transform(sequence(lit(1), size($"ws") - 1),
        i => concat_ws(" ", slice($"ws", i, lit(2)))))
      .otherwise(array())
    val bstats = d.select($"doc_id", explode(bigrams).as("b"))
      .groupBy($"doc_id", $"b").agg(count(lit(1)).as("c"))
      .groupBy($"doc_id")
      .agg(sum($"c").as("n_bi"), max($"c").as("top_b"))
    val old = wstats.join(bstats, "doc_id")
      .select($"doc_id", $"n_toks",
        round($"n_distinct".cast("double") / $"n_toks", 6).as("distinct_ratio"),
        round($"top_w".cast("double") / $"n_toks", 6).as("top_word_frac"),
        round($"top_b".cast("double") / $"n_bi", 6).as("top_bigram_frac"))
      .withColumn("flagged",
        $"distinct_ratio" < 0.5 || $"top_word_frac" > 0.15 ||
          $"top_bigram_frac" > 0.08)
      .orderBy($"doc_id").collect()
    val st = org.apache.spark.sql.graft.GraftSql.column(
      graft.functions.RepetitionStats(
        org.apache.spark.sql.graft.GraftSql.expression($"text")))
    val now = docs
      .filter(length($"text") - length(translate($"text", " ", "")) >= 1)
      .select($"doc_id", st.as("st"))
      .select($"doc_id", $"st.n_toks".as("n_toks"),
        round($"st.n_distinct".cast("double") / $"st.n_toks", 6)
          .as("distinct_ratio"),
        round($"st.top_w".cast("double") / $"st.n_toks", 6).as("top_word_frac"),
        round($"st.top_b".cast("double") / $"st.n_bi", 6).as("top_bigram_frac"))
      .withColumn("flagged",
        $"distinct_ratio" < 0.5 || $"top_word_frac" > 0.15 ||
          $"top_bigram_frac" > 0.08)
      .orderBy($"doc_id").collect()
    assert(old.length == now.length,
      s"row count drift: old=${old.length} now=${now.length}")
    old.zip(now).foreach { case (a, b) => assert(a == b, s"row drift: $a vs $b") }
  }

  test("coOrderPairs emits the self-join's exact pair multiset (graph family)") {
    import spark.implicits._
    // the single-exchange edge build replaced the two-scan self-join in
    // pagerank/BFS/SSSP/triangles; weighted counts pin the MULTISET, so
    // both the .distinct() consumers and SSSP's multiplicity weights are
    // covered in one compare
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .filter($"l_returnflag" === "R")
      .select($"l_orderkey", $"l_partkey")
    val old = li.as("a").join(li.as("b"),
        $"a.l_orderkey" === $"b.l_orderkey" &&
          $"a.l_partkey" < $"b.l_partkey")
      .groupBy($"a.l_partkey".as("u"), $"b.l_partkey".as("v"))
      .agg(count(lit(1)).as("w"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val now = graft.ops.Util.coOrderPairs(spark, sfDir)
      .groupBy($"u", $"v").agg(count(lit(1)).as("w"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(old == now, s"pair multiset drift: old=${old.size} now=${now.size}, " +
      s"diff=${(old diff now).take(3)} / ${(now diff old).take(3)}")
    assert(old.nonEmpty, "fixture produced no co-order pairs — test is vacuous")
  }

  test("WordWindowGenerator equals the HOF symbol-pair form (BPE family)") {
    import spark.implicits._
    // emits the exact "a b" strings of the old
    // explode(transform(sequence → concat(element_at, " ", element_at)))
    // over split(trim(s), " ") — exercised on BPE-shaped spaced strings
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "sympairs", exprs => graft.ops.WordWindowGenerator(exprs.head, 2), "scala_udf")
    val symGen = Gen.oneOf("a", "b", "ab", "字", "xy")
    val sGen = for {
      n <- Gen.choose(0, 12)
      ss <- Gen.listOfN(n, symGen)
    } yield " " + ss.mkString(" ") + " " // the ' a b c ' BPE convention
    forAll(sGen, 40) { sp =>
      val df = Seq(Tuple1(sp)).toDF("s")
      val syms = split(trim($"s"), " ")
      val hof = df.select(explode(when(size(syms) >= 2,
        transform(sequence(lit(1), size(syms) - 1),
          i => concat(element_at(syms, i), lit(" "), element_at(syms, i + 1))))
        .otherwise(array())).as("pair"))
        .collect().map(_.getString(0)).toSeq
      val native = df.selectExpr("sympairs(trim(s)) AS pair")
        .collect().map(_.getString(0)).toSeq
      assert(hof == native, s"sympair mismatch on '$sp': $hof vs $native")
    }
  }

  test("CharGramGenerator equals the HOF substr chains (both short-string conventions)") {
    import spark.implicits._
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "charpairs", exprs =>
        graft.ops.CharGramGenerator(exprs.head, 2, keepShort = false), "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "chargrams5", exprs =>
        graft.ops.CharGramGenerator(exprs.head, 5, keepShort = true), "scala_udf")
    val wGen = for {
      n <- Gen.choose(0, 12)
      cs <- Gen.listOfN(n, Gen.oneOf("a", "b", "c", "é", "字"))
    } yield cs.mkString
    forAll(wGen, 40) { w =>
      val df = Seq(Tuple1(w)).toDF("w")
      // bpe_step convention: caller filters length >= 2 first
      if (w.codePointCount(0, w.length) >= 2) {
        val hof = df.select(explode(transform(
          sequence(lit(1), length($"w") - 1),
          i => $"w".substr(i, lit(2)))).as("p"))
          .collect().map(_.getString(0)).toSeq
        val native = df.selectExpr("charpairs(w) AS p")
          .collect().map(_.getString(0)).toSeq
        assert(hof == native, s"charpair mismatch on '$w': $hof vs $native")
      }
      // ngram convention: sequence(1, greatest(length-4, 1)) keeps short docs
      val hof5 = df.select(explode(transform(
        sequence(lit(1), greatest(length($"w") - 4, lit(1))),
        i => $"w".substr(i, lit(5)))).as("g"))
        .collect().map(_.getString(0)).toSeq
      val native5 = df.selectExpr("chargrams5(w) AS g")
        .collect().map(_.getString(0)).toSeq
      assert(hof5 == native5, s"chargram5 mismatch on '$w': $hof5 vs $native5")
    }
  }

  test("DistinctCharGramsArray equals array_distinct(collected CharGramGenerator grams)") {
    import spark.implicits._
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "chargrams5", exprs =>
        graft.ops.CharGramGenerator(exprs.head, 5, keepShort = true), "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "distinct_chargrams5", exprs =>
        graft.functions.DistinctCharGramsArray(exprs.head, 5, keepShort = true),
      "scala_udf")
    val wGen = for {
      n <- Gen.choose(0, 14)
      cs <- Gen.listOfN(n, Gen.oneOf("a", "b", "c", " ", "é", "字"))
    } yield cs.mkString
    forAll(wGen, 60) { w =>
      val df = Seq(Tuple1(w)).toDF("w")
      // reference: the shipped-through-r19 explode + per-doc distinct,
      // first-occurrence order (array_distinct over the collected grams)
      val exploded = df.selectExpr("chargrams5(w) AS g")
        .collect().map(_.getString(0)).toSeq
      val expect = exploded.distinct
      val native = df.selectExpr("distinct_chargrams5(w) AS gs")
        .collect().head.getSeq[String](0)
      assert(native == expect, s"distinct chargram mismatch on '$w': " +
        s"$native vs $expect")
    }
    // and NULL text yields the empty array (generator emits no row)
    val nul = spark.range(1)
      .selectExpr("distinct_chargrams5(CAST(NULL AS STRING)) AS gs")
      .collect().head.getSeq[String](0)
    assert(nul.isEmpty, "NULL text must yield an empty gram set")
  }

  test("DistinctShinglesArray equals array_distinct(shingles(toks(text)))") {
    import spark.implicits._
    val wordGen = Gen.oneOf("a", "bb", "ccc", "", "émü", "字", "a", "bb")
    val textGen = for {
      n <- Gen.choose(0, 25)
      ws <- Gen.listOfN(n, wordGen)
      lead <- Gen.oneOf("", " ")
      trail <- Gen.oneOf("", " ")
    } yield lead + ws.mkString(" ") + trail
    forAll(textGen, 40) { text =>
      val df = Seq(Tuple1(text)).toDF("text")
      val ws = split($"text", " ")
      val sh = when(size(ws) >= 3,
        transform(sequence(lit(1), size(ws) - 2),
          i => concat_ws(" ", slice(ws, i, lit(3))))).otherwise(array())
      val hof = df.select(array_distinct(sh)).head.getSeq[String](0)
      val native = df.select(org.apache.spark.sql.graft.GraftSql.column(
        graft.functions.DistinctShinglesArray(
          org.apache.spark.sql.graft.GraftSql.expression($"text"), 3)))
        .head.getSeq[String](0)
      assert(hof == native, s"shingle array mismatch on '$text': $hof vs $native")
    }
    // NULL text -> EMPTY array (size(null) = -1 takes the otherwise branch)
    val r = Seq(Tuple1(null: String)).toDF("text")
      .select(org.apache.spark.sql.graft.GraftSql.column(
        graft.functions.DistinctShinglesArray(
          org.apache.spark.sql.graft.GraftSql.expression($"text"), 3))).head
    assert(r.getSeq[String](0).isEmpty, "null text must yield the empty array")
  }

  test("array<float>->array<double> Cast is bit-identical to the transform-cast HOF") {
    import spark.implicits._
    // the native cast replaced transform(embedding, x -> x.cast(double))
    // in the embedding family; both widen float->double per element, so
    // every bit must match on the real fixture vectors
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val rows = e.select(
        transform($"embedding", x => x.cast("double")).as("hof"),
        $"embedding".cast("array<double>").as("native"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val a = r.getSeq[Double](0); val b = r.getSeq[Double](1)
      assert(a.length == b.length)
      a.zip(b).foreach { case (x, y) =>
        assert(java.lang.Double.doubleToLongBits(x) ==
          java.lang.Double.doubleToLongBits(y), s"cast drift: $x vs $y")
      }
    }
  }

  test("PqEncode and AdcSum are bit-identical to the HOF PQ forms") {
    import spark.implicits._
    // fixed small codebook (m=2 subspaces, k=3 codewords, sub=4) over
    // generated vectors: the native expressions must reproduce the HOF
    // encode (argmin via array_position(array_min)) and ADC fold exactly
    val m = 2; val sub = 4
    val cbs: Seq[Seq[Seq[Double]]] = Seq(
      Seq(Seq(0.1, -0.2, 0.3, 0.4), Seq(1.0, 0.0, -1.0, 0.5),
        Seq(-0.7, 0.7, 0.2, -0.1)),
      Seq(Seq(0.0, 0.0, 0.0, 0.0), Seq(0.3, 0.3, 0.3, 0.3),
        Seq(-0.5, 0.25, 0.125, 2.0)))
    val cbl = typedlit(cbs)
    val vecGen = Gen.listOfN(m * sub, Gen.choose(-2.0, 2.0))
    forAll(vecGen, 25) { vec =>
      val df = Seq(Tuple1(vec)).toDF("emb")
      val hofCodes = df.select(
        transform(sequence(lit(0), lit(m - 1)), j => {
          val sl = slice($"emb", j * lit(sub) + 1, lit(sub))
          val dists = transform(element_at(cbl, j + 1),
            c => lit(-2.0) * Util.dot(sl, c) + Util.dot(c, c))
          array_position(dists, array_min(dists)).cast("int")
        })).head.getSeq[Int](0)
      val nativeCodes = df.select(org.apache.spark.sql.graft.GraftSql.column(
        graft.functions.PqEncode(
          org.apache.spark.sql.graft.GraftSql.expression($"emb"), cbs, sub)))
        .head.getSeq[Int](0)
      assert(hofCodes == nativeCodes,
        s"encode mismatch on $vec: $hofCodes vs $nativeCodes")
      // ADC over a probe LUT built the production way
      val lutDf = df.select($"emb",
        transform(sequence(lit(0), lit(m - 1)), j =>
          transform(element_at(cbl, j + 1),
            c => Util.dot(slice($"emb", j * lit(sub) + 1, lit(sub)), c)))
          .as("lut"),
        typedlit(nativeCodes).as("codes"))
      val hofScore = lutDf.select(
        aggregate(zip_with($"lut", $"codes",
          (l, c) => element_at(l, c)), lit(0.0), _ + _)).head.getDouble(0)
      val nativeScore = lutDf.select(
        org.apache.spark.sql.graft.GraftSql.column(graft.functions.AdcSum(
          org.apache.spark.sql.graft.GraftSql.expression($"lut"),
          org.apache.spark.sql.graft.GraftSql.expression($"codes"))))
        .head.getDouble(0)
      assert(java.lang.Double.doubleToLongBits(hofScore) ==
        java.lang.Double.doubleToLongBits(nativeScore),
        s"adc mismatch: $hofScore vs $nativeScore")
    }
  }

  test("pagerank zip-adjacency supersteps equal the cogroup formulation bit-for-bit") {
    import spark.implicits._
    // round 19 replaced the per-superstep cogroup with a staged
    // adjacency + per-partition pre-combine; contributions are the same
    // fixed-point longs summed in a different order (integer sums are
    // order-independent), so ranks must be bit-identical. Replay the OLD
    // loop here and diff every (node, rank).
    val e1 = graft.ops.Util.coOrderPairs(spark, sfDir).distinct()
    val e1c = e1.cache()
    val nEdges = e1c.count() * 2
    val part = new org.apache.spark.HashPartitioner(
      math.max(1, math.min(spark.sparkContext.defaultParallelism,
        (nEdges / 65536 + 1).toInt)))
    val und = e1c.as[(Long, Long)].rdd
      .flatMap { case (u, v) => Seq((u, v), (v, u)) }
      .partitionBy(part).cache()
    val deg = und.mapValues(_ => 1L).reduceByKey(part, _ + _)
    val ed = und.join(deg, part).cache()
    val n = deg.count()
    val base = 0.15 / n
    var ranks = deg.mapValues(_ => 1.0 / n)
    for (_ <- 1 to 5) {
      val contribs = ed.join(ranks, part).map { case (_, ((v, dg), r)) =>
        (v, math.floor(r / dg * 1e12).toLong)
      }
      ranks = contribs.reduceByKey(part, _ + _)
        .mapValues(sq => base + 0.85 * (sq.toDouble / 1e12))
    }
    val old = ranks.collect().sortBy(_._1).toSeq
    val now = SparkEntry.queries("q_graph_pagerank")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    e1c.unpersist(); und.unpersist(); ed.unpersist()
    graft.ops.Util.unpersistRegistered()
    assert(old.size == now.size, s"node count drift: ${old.size} vs ${now.size}")
    old.zip(now).foreach { case ((ka, va), (kb, vb)) =>
      assert(ka == kb && java.lang.Double.doubleToLongBits(va) ==
        java.lang.Double.doubleToLongBits(vb),
        s"rank drift at $ka/$kb: $va vs $vb")
    }
  }

  test("CC zip-adjacency label push equals the join-based delta iteration") {
    import spark.implicits._
    // replay the OLD join-based push over the same near-dup pairs and
    // diff every (node, comp) against the registry query's CC core
    val pairs = SparkEntry.queries("q_dedup_near")(spark, sfDir)
      .select($"doc_a", $"doc_b").cache()
    val nEdges = pairs.count() * 2
    val part = new org.apache.spark.HashPartitioner(
      math.max(1, math.min(spark.sparkContext.defaultParallelism.toLong,
        math.min(nEdges / 65536 + 1, Int.MaxValue.toLong)).toInt))
    val und = pairs.as[(Long, Long)].rdd
      .flatMap { case (a, b) => Seq((a, b), (b, a)) }
      .partitionBy(part).cache()
    var labels = und.mapValues(_ => ()).keys.map(n => (n, n))
      .reduceByKey(part, math.min(_: Long, _: Long))
    var active = labels
    var n = 1L
    while (n > 0) {
      val pushed = und.join(active, part)
        .map { case (_, (v, lu)) => (v, lu) }
        .reduceByKey(part, math.min(_: Long, _: Long))
      val upd = labels.leftOuterJoin(pushed, part)
        .mapValues { case (old, p) => (old, p.filter(_ < old)) }
      active = upd.filter { case (_, (_, p)) => p.isDefined }
        .mapValues { case (_, p) => p.get }.cache()
      n = active.count()
      labels = upd.mapValues { case (old, p) => p.getOrElse(old) }.cache()
    }
    val old = labels.collect().sortBy(_._1).toSeq
    graft.ops.Util.unpersistRegistered()
    val now = SparkEntry.queries("q_dedup_connected")(spark, sfDir)
      .select($"doc_id", $"cluster")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    pairs.unpersist(); und.unpersist()
    graft.ops.Util.unpersistRegistered()
    assert(old == now, s"CC label drift: old=${old.size} now=${now.size} " +
      s"first diffs: ${old.zip(now).filter(p => p._1 != p._2).take(3)}")
    assert(old.nonEmpty, "no CC labels — vacuous")
  }

  test("BFS and SSSP zip-adjacency rounds equal the join-based loops") {
    import spark.implicits._
    val half = graft.ops.Util.coOrderPairs(spark, sfDir).distinct().cache()
    val nEdges = half.count() * 2
    val part = new org.apache.spark.HashPartitioner(
      math.max(1, math.min(spark.sparkContext.defaultParallelism,
        (nEdges / 65536 + 1).toInt)))
    // old BFS
    val und = half.as[(Long, Long)].rdd
      .flatMap { case (u, v) => Seq((u, v), (v, u)) }
      .partitionBy(part).cache()
    val seedNode = und.keys.min()
    val seed = spark.sparkContext
      .parallelize(Seq((seedNode, 0L))).partitionBy(part)
    var levels = List(seed.cache())
    for (h <- 1 to 4) {
      val prev = levels.head
      val prev2 = if (levels.lengthCompare(2) >= 0) levels(1) else prev
      val next = und.join(prev, part)
        .map { case (_, (v, _)) => (v, h.toLong) }
        .reduceByKey(part, (a, _) => a)
        .subtractByKey(prev, part)
        .subtractByKey(prev2, part)
      levels = next.cache() :: levels
    }
    val oldBfs = spark.sparkContext.union(levels.reverse)
      .collect().sortBy(_._1).toSeq
    val nowBfs = SparkEntry.queries("q_graph_bfs")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    assert(oldBfs == nowBfs, s"BFS drift: old=${oldBfs.size} now=${nowBfs.size}")
    // old SSSP
    val halfW = graft.ops.Util.coOrderPairs(spark, sfDir)
      .groupBy($"u", $"v").agg(count(lit(1)).as("w")).cache()
    val undW = halfW.as[(Long, Long, Long)].rdd
      .flatMap { case (u, v, w) => Seq((u, (v, w)), (v, (u, w))) }
      .partitionBy(part).cache()
    val seedW = undW.keys.min()
    var dist = spark.sparkContext
      .parallelize(Seq((seedW, 0L))).partitionBy(part)
    for (_ <- 1 to 4) {
      val relaxed = undW.join(dist, part)
        .map { case (_, ((v, w), d)) => (v, d + w) }
      dist = dist.union(relaxed).reduceByKey(part, math.min(_: Long, _: Long))
    }
    val oldSssp = dist.collect().sortBy(_._1).toSeq
    val nowSssp = SparkEntry.queries("q_graph_sssp")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    assert(oldSssp == nowSssp,
      s"SSSP drift: old=${oldSssp.size} now=${nowSssp.size}")
    half.unpersist(); und.unpersist(); halfW.unpersist(); undW.unpersist()
    graft.ops.Util.unpersistRegistered()
    assert(oldBfs.nonEmpty && oldSssp.nonEmpty, "vacuous graph parity")
  }

  test("MinHashLanes kernel equals the explode+groupBy md5-substring aggregation") {
    import spark.implicits._
    // the per-row kernel replaced the shuffle-based signature pipeline on
    // the promise of byte-identical lanes — replay the OLD formulation on
    // the real fixture corpus and diff every doc's signature
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val ws = split($"text", " ")
    val shingles = when(size(ws) >= 3,
      transform(sequence(lit(1), size(ws) - 2), i =>
        concat(element_at(ws, i), lit(" "), element_at(ws, i + 1),
          lit(" "), element_at(ws, i + 2)))).otherwise(array())
    val hex32 = md5($"sh")
    val old = docs.select($"doc_id", explode(shingles).as("sh"))
      .groupBy($"doc_id")
      .agg(min(substring(hex32, 1, 4)).as("l"),
        (1 until 8).map(j => min(substring(hex32, 4 * j + 1, 4)).as(s"l$j")): _*)
      .select($"doc_id",
        array($"l" +: (1 until 8).map(j => col(s"l$j")): _*).as("lanes"))
    val kernel = docs.select($"doc_id",
      org.apache.spark.sql.graft.GraftSql.column(graft.functions.MinHashLanes(
        org.apache.spark.sql.graft.GraftSql.expression(ws))).as("lanes"))
      .filter($"lanes".isNotNull)
    val diff = old.as("o").join(kernel.as("k"), Seq("doc_id"), "full")
      .filter($"o.lanes".isNull || $"k.lanes".isNull ||
        $"o.lanes" =!= $"k.lanes")
      .count()
    assert(diff == 0, s"$diff docs with differing signatures")
    // a doc with < 3 tokens has no shingles -> null, like the explode
    // form's absent row
    val r = Seq("one two").toDF("text")
      .select(org.apache.spark.sql.graft.GraftSql.column(
        graft.functions.MinHashLanes(
          org.apache.spark.sql.graft.GraftSql.expression(split($"text", " ")))))
      .head
    assert(r.isNullAt(0), "< 3 tokens must yield null")
  }

  test("SimHashBits kernel equals the explode+packed-vote aggregation") {
    import spark.implicits._
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    def vote(b: Int) = (ascii(substring($"h", b, 1)) >= 56).cast("long")
    val packed = (0 until 8).map { j =>
      (0 until 4).map(l => vote(4 * j + l + 1) * lit(1L << (16 * l)))
        .reduce(_ + _).as(s"p$j")
    }
    val sums = docs.select($"doc_id", explode(split($"text", " ")).as("t"))
      .select($"doc_id", md5($"t").as("h"))
      .select($"doc_id" +: packed: _*)
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n"),
        (0 until 8).map(j => sum(col(s"p$j")).as(s"s$j")): _*)
    val shl = (1 to 32).map { b =>
      val lane = shiftright(col(s"s${(b - 1) / 4}"), 16 * ((b - 1) % 4))
        .bitwiseAND(lit(0xFFFFL))
      when(lane * 2 > $"n", lit(1L << (32 - b))).otherwise(0L)
    }.reduce(_ + _)
    val old = sums.select($"doc_id", shl.as("shl"))
    val kernel = docs.select($"doc_id",
      org.apache.spark.sql.graft.GraftSql.column(graft.functions.SimHashBits(
        org.apache.spark.sql.graft.GraftSql.expression(split($"text", " "))))
        .as("shl"))
    val diff = old.as("o").join(kernel.as("k"), Seq("doc_id"), "full")
      .filter($"o.shl".isNull || $"k.shl".isNull || $"o.shl" =!= $"k.shl")
      .count()
    assert(diff == 0, s"$diff docs with differing simhash signatures")
  }

  test("session count is invariant under per-event jitter smaller than gap slack") {
    import spark.implicits._
    // events at least 100s apart within sessions, gaps >= 2000s between
    // sessions; jitter < 50s cannot create or destroy a 1800s-gap session
    val base = Seq(0L, 200L, 400L, 3000L, 3200L, 6000L)
    forAll(Gen.listOfN(base.size, Gen.choose(-40L, 40L))) { jit =>
      val ts = base.zip(jit).map { case (b, j) => b + j }
      val df = ts.zipWithIndex.map { case (t, i) => (1L, t, i.toLong) }
        .toDF("user_id", "sec", "id")
      val w = Window.partitionBy($"user_id").orderBy($"sec", $"id")
      val n = df.withColumn("prev", lag($"sec", 1).over(w))
        .withColumn("new_s", when($"prev".isNull || $"sec" - $"prev" >= 1800, 1)
          .otherwise(0))
        .agg(sum($"new_s")).head.getLong(0)
      assert(n == 3, s"jitter changed session count: $n for $ts")
    }
  }

  test("int8 quantized dot product stays within the analytic error bound") {
    import spark.implicits._
    import org.apache.spark.sql.Column
    // per-element quantization error <= scale/254 (half an int8 step), so
    // |dot_q - dot| <= n*(maxA*eb + maxB*ea + ea*eb) — the invariant that
    // makes q_sim_quantized's de-scaled scores trustworthy at any scale
    val vecGen = Gen.listOfN(16, Gen.choose(-10.0, 10.0))
    forAll(vecGen, vecGen) { (a, b) =>
      val df = Seq((a.toArray, b.toArray)).toDF("a", "b")
      def scaleOf(c: Column) =
        greatest(array_max(transform(c, x => abs(x))), lit(1e-12))
      val out = df.select(
        Util.dot($"a", $"b").as("exact"),
        (Util.dot(
          transform($"a", x => round(x / scaleOf($"a") * 127, 0)),
          transform($"b", x => round(x / scaleOf($"b") * 127, 0)))
          * scaleOf($"a") * scaleOf($"b") / lit(127.0 * 127.0)).as("approx"))
        .head()
      val (maxA, maxB) = (a.map(math.abs).max, b.map(math.abs).max)
      val (ea, eb) = (maxA.max(1e-12) / 254.0, maxB.max(1e-12) / 254.0)
      val bound = a.length * (maxA * eb + maxB * ea + ea * eb) + 1e-9
      val err = math.abs(out.getDouble(0) - out.getDouble(1))
      assert(err <= bound, s"quantization error $err exceeds bound $bound")
    }
  }

  test("native top-k == window top-k on arbitrary data (incl. tiny groups, any k)") {
    import spark.implicits._
    import graft.plans.{TopKPerGroupPlan, TopKPerGroupStrategy}
    import org.apache.spark.sql.catalyst.expressions.{Ascending, Descending, SortOrder}
    if (!spark.experimental.extraStrategies.contains(TopKPerGroupStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ TopKPerGroupStrategy
    val gen = for {
      rows <- rowsGen
      k <- Gen.choose(1, 4)
      parts <- Gen.choose(1, 5)
    } yield (rows, k, parts)
    forAll(gen) { case (rows, k, parts) =>
      // unique id makes the ordering total, so both forms are deterministic
      val df = rows.zipWithIndex
        .map { case ((g, v), id) => (g, v, id.toLong) }
        .toDF("g", "v", "id").repartition(parts)
      val plan = df.queryExecution.analyzed
      def attr(n: String) = plan.output.find(_.name == n).get
      val native = org.apache.spark.sql.graft.GraftSql.ofRows(spark,
        TopKPerGroupPlan(Seq(attr("g")),
          Seq(SortOrder(attr("v"), Descending), SortOrder(attr("id"), Ascending)),
          k, plan))
        .orderBy($"g", $"v".desc, $"id").collect().toSeq
      val w = Window.partitionBy($"g").orderBy($"v".desc, $"id")
      val win = df.withColumn("rn", row_number().over(w))
        .filter($"rn" <= k).drop("rn")
        .orderBy($"g", $"v".desc, $"id").collect().toSeq
      assert(native == win, s"k=$k parts=$parts: $native != $win")
    }
  }

  test("morton_interleave: magic-mask spread == per-bit interleave; order-embedding") {
    // the magic-mask implementation must equal the definitional bit loop,
    // and the curve must embed the per-dimension orders: growing one
    // coordinate (other fixed) never decreases the key
    forAll(Gen.choose(0L, 65535L), Gen.choose(0L, 65535L)) { (x, y) =>
      def bitwise(x: Long, y: Long): Long =
        (0 until 16).map { i =>
          (((x >> i) & 1L) << (2 * i)) | (((y >> i) & 1L) << (2 * i + 1))
        }.reduce(_ | _)
      val m = graft.functions.MortonInterleave.spread(x) |
        (graft.functions.MortonInterleave.spread(y) << 1)
      assert(m == bitwise(x, y), s"magic-mask morton($x,$y) != definition")
      if (x < 65535L)
        assert((graft.functions.MortonInterleave.spread(x + 1) |
          (graft.functions.MortonInterleave.spread(y) << 1)) > m)
      if (y < 65535L)
        assert((graft.functions.MortonInterleave.spread(x) |
          (graft.functions.MortonInterleave.spread(y + 1) << 1)) > m)
    }
  }

  test("morton_interleave_n: stride spread matches definition for N=2..4; bijective; order-embedding per dimension; codegen == eval") {
    import graft.functions.MortonInterleaveN.spreadN
    // definitional check: bit j of dim d lands at j*N + d
    forAll(Gen.choose(2, 4), Gen.choose(0L, 65535L)) { (n, v) =>
      val bits = if (n == 4) 15 else 16
      val vv = v & ((1L << bits) - 1)
      val expect = (0 until bits).map(j => ((vv >> j) & 1L) << (j * n)).fold(0L)(_ | _)
      assert(spreadN(vv, n) == expect, s"spreadN($vv, $n)")
    }
    // bijectivity + per-dimension order embedding at N=3
    def m3(a: Long, b: Long, c: Long): Long =
      spreadN(a, 3) | (spreadN(b, 3) << 1) | (spreadN(c, 3) << 2)
    forAll(Gen.zip(Gen.choose(0L, 65535L), Gen.choose(0L, 65535L)),
        Gen.choose(0L, 65535L)) { (ab, c) =>
      val (a, b) = ab
      // decode by re-collecting every 3rd bit: the interleave is lossless
      def lane(m: Long, d: Int): Long =
        (0 until 16).map(j => ((m >> (j * 3 + d)) & 1L) << j).fold(0L)(_ | _)
      val m = m3(a, b, c)
      assert(lane(m, 0) == a && lane(m, 1) == b && lane(m, 2) == c)
      if (a < 65535L) assert(m3(a + 1, b, c) > m)
      if (b < 65535L) assert(m3(a, b + 1, c) > m)
      if (c < 65535L) assert(m3(a, b, c + 1) > m)
    }
    // expression eval == codegen == spreadN composition through a real plan
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val df = spark.range(0, 2048).selectExpr(
      "id % 13 AS a", "(id * 7) % 11 AS b", "(id * 31) % 17 AS c")
    def viaExpr(cg: Boolean) = {
      val prev = spark.conf.get("spark.sql.codegen.wholeStage")
      spark.conf.set("spark.sql.codegen.wholeStage", cg.toString)
      try df.withColumn("m", org.apache.spark.sql.graft.GraftSql.column(
          graft.functions.MortonInterleaveN(Seq("a", "b", "c").map(cn =>
            org.apache.spark.sql.graft.GraftSql.expression(col(cn))))))
        .orderBy($"a", $"b", $"c").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
      finally spark.conf.set("spark.sql.codegen.wholeStage", prev)
    }
    val gen = viaExpr(cg = true)
    assert(gen == viaExpr(cg = false), "codegen and interpreted eval differ")
    gen.foreach { case (a, b, c, m) => assert(m == m3(a, b, c)) }
    // r17 (advice): at N=4 the expression MASKS each dimension to 15
    // bits — an out-of-contract 16th bit would land at position 63, the
    // sign bit, and invert the whole z-order. The key must stay
    // non-negative even for hostile inputs, and order-embedding must
    // hold across the top of the 15-bit budget.
    import org.apache.spark.sql.catalyst.expressions.Literal
    def m4(vs: Long*): Long =
      graft.functions.MortonInterleaveN(vs.map(Literal(_)))
        .eval(null).asInstanceOf[Long]
    assert(m4(65535L, 65535L, 65535L, 65535L) >= 0L,
      "N=4 z-key reached the sign bit")
    assert(m4(0x7FFEL, 1L, 2L, 3L) < m4(0x7FFFL, 1L, 2L, 3L),
      "order embedding broken at the top of the 15-bit budget")
  }

  test("NdvHll: union is commutative/associative/idempotent; estimate tracks cardinality") {
    import graft.sources.GraftStore.NdvHll
    def sketchOf(vs: Seq[Long]): String = {
      val r = NdvHll.empty
      vs.foreach(NdvHll.addLong(r, _))
      NdvHll.hex(r)
    }
    forAll(Gen.listOfN(3, Gen.nonEmptyListOf(Gen.choose(0L, 5000L)))) { sets =>
      val Seq(a, b, c) = sets.map(sketchOf)
      // semilattice laws — exactly what makes the manifest merge safe in
      // ANY compaction/fold order
      assert(NdvHll.mergeHex(a, b) == NdvHll.mergeHex(b, a), "commutative")
      assert(NdvHll.mergeHex(NdvHll.mergeHex(a, b), c) ==
        NdvHll.mergeHex(a, NdvHll.mergeHex(b, c)), "associative")
      assert(NdvHll.mergeHex(a, a) == a, "idempotent")
      // a union sketch equals the sketch of the union (the streaming
      // writer and the manifest fold must agree bit-for-bit)
      assert(NdvHll.mergeHex(a, b) == sketchOf(sets(0) ++ sets(1)),
        "merge == sketch of concatenation")
    }
    // estimate accuracy across magnitudes: m=64 HLL ~13% standard error;
    // assert a generous 3-sigma-ish window at each scale
    for (n <- Seq(1, 5, 50, 500, 5000, 50000)) {
      val est = NdvHll.estimate(NdvHll.fromHex(sketchOf((0L until n.toLong).map(_ * 2654435761L))))
      assert(est >= n * 0.55 && est <= n * 1.6,
        s"estimate $est outside bounds for true NDV $n")
    }
  }

  test("suffix dedup: planted shared substrings are recovered with exact position and length") {
    import spark.implicits._
    // deterministic distinct filler (seeded) so the ONLY ≥40-char repeats
    // are the planted ones
    val rnd = new scala.util.Random(42)
    def filler(n: Int): String =
      (0 until n).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
    val shared = "the exact same one hundred and twenty character run planted " +
      "verbatim in two quite different documents for recall checking!"
    assert(shared.length == 122)
    val selfRep = filler(60)
    val docs = Seq(
      (1L, filler(200) + shared + filler(150)),          // planted at 200
      (2L, filler(80) + shared + filler(37)),            // planted at 80
      (3L, filler(50) + selfRep + filler(45) + selfRep), // SELF-repeat
      (4L, filler(300))                                  // clean
    ).toDF("doc_id", "text")
    val runs = graft.ops.Quality.suffixRuns(docs, 40)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // cross-doc plant: found in BOTH docs at the exact offset and length
    assert(runs.contains((1L, 200L, 122L)), runs.mkString(", "))
    assert(runs.contains((2L, 80L, 122L)), runs.mkString(", "))
    // self-repeat within one doc: both occurrences, exact length
    assert(runs.contains((3L, 50L, 60L)), runs.mkString(", "))
    assert(runs.contains((3L, 155L, 60L)), runs.mkString(", "))
    // nothing fabricated: the clean doc reports no runs, and no run
    // exists beyond the four planted ones
    assert(runs.length == 4, runs.mkString(", "))
    // sub-threshold repeats (< 40 chars) never surface
    val short = Seq((1L, filler(100) + "tiny repeat" + filler(100)),
      (2L, filler(90) + "tiny repeat" + filler(110))).toDF("doc_id", "text")
    assert(graft.ops.Quality.suffixRuns(short, 40).count() == 0)
    // L > 64 takes the hash-keyed two-phase path (wide shuffle ships
    // xxhash64, survivors confirm by exact string) — same recovery
    val runs80 = graft.ops.Quality.suffixRuns(docs, 80)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(runs80.toSet == Set((1L, 200L, 122L), (2L, 80L, 122L)),
      runs80.mkString(", "))
  }

  test("suffix dedup: heavy boilerplate (one window repeated 10^4 times) stays skew-bounded — no hash-keyed single-task window") {
    import spark.implicits._
    // the 100 TB hazard: a boilerplate window repeated across the corpus
    // puts EVERY copy of its hash in one task if phase 1 partitions a
    // window by h alone. The salted (h, salt) aggregation bounds any
    // hash to 1/64th per cell; this pins (a) correct output under a
    // planted 10^4-fold repeat and (b) that no Window in the plan
    // partitions by fewer than 2 keys unless it is the per-doc islands
    // merge
    val rnd = new scala.util.Random(7)
    def filler(n: Int): String =
      (0 until n).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
    val boiler = "COPYRIGHT NOTICE ALL RIGHTS RESERVED 2026" // 41 chars
    assert(boiler.length == 41)
    val docs = (0L until 10000L).map(i => (i, filler(20) + boiler))
      .toDF("doc_id", "text")
    val runs = graft.ops.Quality.suffixRuns(docs, 40)
    // plan audit: every window either has a multi-key partition spec
    // (salted) or partitions by doc_id (the islands merge)
    val wins = runs.queryExecution.executedPlan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    wins.foreach { w =>
      val keys = w.partitionSpec.map(_.toString)
      assert(keys.size >= 2 || keys.exists(_.contains("doc_id")),
        s"single-key non-doc window partition (straggler at scale): $keys")
    }
    val got = runs.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.length == 10000, s"${got.length} runs")
    // every doc reports exactly one maximal run covering the planted
    // boilerplate at [20, 61); it may extend LEFT into filler chars
    // that coincide across some pair of docs (with 10^4 docs over a
    // 26-letter alphabet such one-char coincidences are guaranteed),
    // never right (the docs end at the boilerplate)
    assert(got.forall { case (_, st, len) =>
      st <= 20L && st + len == 61L && len >= 41L
    }, got.take(5).mkString(", "))
  }

  test("incremental sparse index: a new dominant block over the cap gets a batch-sized salt split, pairs exactly once") {
    import spark.implicits._
    // r19 review: a block NEW in the growth batch used to get g=1
    // regardless of size — one unbounded salt cell, the exact skew
    // hazard the cap bounds. Corpus: base (doc_id % 5 != 0) = 40 docs
    // where `b` sits in half the vocab (idf = ln 2) but is never a base
    // argmax (a unique rare term dominates each base doc, so block `b`
    // does not exist in the base index); batch (doc_id % 5 == 0) = 150
    // identical docs dominated by `b` — 2.3x over the 64-posting cap.
    // g must be ceil(150/64) = 3, and every batch pair must meet
    // EXACTLY once across the 3 salt cells (C(150,2) pairs, cosine 1.0).
    val baseIds = (1L to 50L).filter(_ % 5 != 0)
    val base = baseIds.zipWithIndex.map { case (id, i) =>
      (id, if (i % 2 == 0) s"x b r_$i" else s"x y r_$i")
    }
    val batch = (0L until 750L by 5L).map(id => (id, "b b b x"))
    val dir = graft.ops.Util.managedTempDir("graft_sparse_incr_skew_")
    (base ++ batch).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val pPath = graft.ops.LlmOpsExt.sparseIncrStagedIndex(spark, dir)
    val gs = spark.read.format("graft.sources.GraftStore")
      .option("path", pPath).load()
      .filter($"doc_id" % 5 === 0).select($"g").distinct()
      .collect().map(_.getInt(0)).toSeq
    assert(gs == Seq(3),
      s"new block of 150 must salt-split at ceil(150/64)=3, got g=$gs")
    val got = SparkEntry.queries("q_sim_sparse_incr")(spark, dir).collect()
    assert(got.length == 150 * 149 / 2,
      s"expected C(150,2)=${150 * 149 / 2} pairs, got ${got.length} — " +
        "a multi-salt new block that loses or duplicates pairs")
    assert(got.forall(_.getDouble(2) == 1.0))
  }

  test("sparse sim (registry default): a planted dominant-term block 4.5x over the cap yields every pair exactly once") {
    import spark.implicits._
    // the 100 TB hazard the r17 registry swap closes: a stop-word-ish
    // dominant term owns a block far beyond the 64-doc salt cap, so the
    // salted triangular replication must split it into g = ceil(288/64)
    // = 5 salt cells — and every (a < b) pair must still meet EXACTLY
    // once (a's salt cell). Corpus construction: 20 `common_i` terms
    // appear in every doc (idf = 0 -> weight 0, never the argmax);
    // `planted` appears twice in 288 of 320 docs (positive idf, the
    // argmax of every doc that has it). All planted docs have the same
    // tf-idf vector, so each of C(288,2) pairs reports cosine 1.0; the
    // 32 planted-free docs are all-zero vectors (NaN cosine, filtered).
    val commons = (1 to 20).map(i => s"common_$i").mkString(" ")
    val docs = (0L until 320L).map { i =>
      val text = if (i < 288L) s"planted planted $commons" else commons
      (i, text)
    }.toDF("doc_id", "text")
    val dir = graft.ops.Util.managedTempDir("graft_sparse_skew_")
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("q_sim_sparse")(spark, dir).collect()
    assert(got.length == 288 * 287 / 2,
      s"expected C(288,2)=${288 * 287 / 2} pairs, got ${got.length} — " +
        "a salt split that loses or duplicates pairs")
    assert(got.forall(_.getDouble(2) == 1.0),
      s"identical planted vectors must report cosine 1.0")
    // and the capped default must agree bit-for-bit with the uncapped
    // reference on the SAME skewed input, not just on the fixture
    val ref = graft.ops.LlmOpsExt.qSimSparseUncapped(spark, dir).collect()
    assert(got.toSeq == ref.toSeq,
      "capped default diverged from the uncapped reference under skew")
  }
}
