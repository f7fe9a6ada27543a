package graft.functions

import graft.queries.PipelineFns
import graft.vlm.SparkSpec
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.{Literal, Lower}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The curation signal stage's two kernels against the built-in
  * compositions they replace, which stay the reference:
  * [[AlnumTokens]] (via `PipelineFns.tokens`) against
  * `regexp_extract_all(lower(text), '[a-z0-9]+', 0)`, and
  * [[TopBigramCount]] against `top_run_count(shingles(toks, 2))`.
  * Inputs go through an RDD-backed frame, so the generated code runs, and
  * through direct `eval`, so the interpreted path runs too.
  */
class TokenKernelsSpec extends SparkSpec {

  private def rddFrame(rows: Seq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), schema)

  // Unicode case-mapping hazards (İ lowers to i + U+0307, the Kelvin sign
  // to ASCII k, Σ to σ), non-Latin letters, astral-plane emoji, whitespace
  // and punctuation around ASCII letters and digits
  private val alphabet = Vector("a", "Z", "q", "M", "0", "7", " ", "-", ".", "\t", "\n",
    "İ", "ı", "ß", "Σ", "σ", "ς", "\u212A", "\u00C5", "\u212B", "É", "ǅ",
    "😀", "👍", "中", "文", "の")

  private def randomTexts(seed: Int, n: Int): Seq[String] = {
    val rng = new scala.util.Random(seed)
    Seq(null, "", " ", "İSTANBUL", "Kelvin", "ΣΑΣ", "STRASSE straße", "\u212Aelvin \u212Bngstr\u00F6m") ++
      Seq.fill(n) {
        if (rng.nextInt(20) == 0) null
        else Seq.fill(rng.nextInt(40))(alphabet(rng.nextInt(alphabet.size))).mkString
      }
  }

  test("tokens equals regexp_extract_all(lower(text), '[a-z0-9]+', 0), data type included") {
    val texts = randomTexts(seed = 11, n = 2000)
    val df = rddFrame(texts.map(Row(_)), StructType(Seq(StructField("text", StringType))))
      .select(col("text"),
        PipelineFns.tokens(col("text")).as("kernel"),
        regexp_extract_all(lower(col("text")), lit("[a-z0-9]+"), lit(0)).as("reference"))
    assert(df.schema("kernel").dataType == df.schema("reference").dataType)
    assert(df.schema("kernel").dataType == ArrayType(StringType, containsNull = true))
    val rows = df.collect()
    assert(rows.length == texts.length)
    rows.foreach { r =>
      assert(r.isNullAt(1) == r.isNullAt(2), s"null mismatch for ${r.getString(0)}")
      if (!r.isNullAt(2))
        assert(r.getSeq[String](1) == r.getSeq[String](2), s"text=${r.getString(0)}")
    }
    assert(rows.count(r => !r.isNullAt(1) && r.getSeq[String](1).nonEmpty) > texts.length / 2)
    // interpreted evaluation gives the same arrays
    rows.foreach { r =>
      val text = Option(r.getString(0)).map(UTF8String.fromString).orNull
      val viaEval = AlnumTokens(Lower(Literal.create(text, StringType))).eval(null)
      if (r.isNullAt(2)) assert(viaEval == null)
      else assert(viaEval.asInstanceOf[ArrayData].toSeq[UTF8String](StringType).map(_.toString) ==
        r.getSeq[String](2))
    }
  }

  private val bigramSchema = StructType(Seq(StructField("toks", ArrayType(StringType, containsNull = true))))

  // elements with spaces and nulls make different arrays join to the same
  // bigram strings ("a b"+"c" = "a"+"b c"; nulls are skipped by array_join)
  private val vocab = Vector("a", "b", "c", "", "a b", "b c", " ", "a ", " b", null)

  private def randomArrays(seed: Int, n: Int): Seq[Seq[String]] = {
    val rng = new scala.util.Random(seed)
    val plain = Vector("a", "b", "c", "dd", "")
    Seq(null, Seq.empty, Seq("x"), Seq(null), Seq(null, null)) ++ Seq.fill(n) {
      rng.nextInt(10) match {
        case 0 => null
        case 1 | 2 | 3 => Seq.fill(rng.nextInt(30))(vocab(rng.nextInt(vocab.size)))
        case _ => Seq.fill(rng.nextInt(60))(plain(rng.nextInt(plain.size)))
      }
    }
  }

  private def referenceTop(toks: Seq[String]): Long = {
    val bigrams = PipelineFns.shingles(typedLit(toks), 2)
    spark.range(1).select(topRunCount(bigrams)).head().getLong(0)
  }

  test("top_bigram_count equals top_run_count(shingles(toks, 2)); n_bigrams equals size(shingles(toks, 2))") {
    val arrays = randomArrays(seed = 23, n = 3000)
    val df = rddFrame(arrays.map(Row(_)), bigramSchema).select(
      topBigramCount(col("toks")).as("kernel"),
      topRunCount(PipelineFns.shingles(col("toks"), 2)).as("reference"),
      greatest(size(col("toks")) - 1, lit(1)).cast("long").as("n_bigrams"),
      size(PipelineFns.shingles(col("toks"), 2)).cast("long").as("n_shingles"))
    assert(!df.schema("kernel").nullable)
    val rows = df.collect()
    assert(rows.length == arrays.length)
    rows.zip(arrays).foreach { case (r, toks) =>
      assert(!r.isNullAt(1), s"reference is never null, toks=$toks")
      assert(r.getLong(0) == r.getLong(1), s"toks=$toks")
      assert(r.getLong(2) == r.getLong(3), s"toks=$toks")
    }
    // the inputs reach the string path, and on it the id keys would differ
    assert(arrays.exists(a => a != null && a.size > 1 && a.contains(null)))
    assert(arrays.exists(a => a != null && a.size > 1 && a.exists(t => t != null && t.contains(" "))))
    // interpreted evaluation gives the same counts
    rows.zip(arrays).foreach { case (r, toks) =>
      val arr = Literal.create(toks, bigramSchema("toks").dataType)
      assert(TopBigramCount(arr).eval(null) == r.getLong(1), s"toks=$toks")
    }
  }

  test("hand-built arrays: string-path collisions, empty strings and edge sizes") {
    val cases = Seq(
      Seq("a b", "c", "a", "b c") -> 2L, // "a b c" twice
      Seq("a", null, "a") -> 2L,         // "a" twice: array_join skips the null
      Seq(null, null, null) -> 2L,       // "" twice
      Seq("x", "", "x", "") -> 2L,       // "x " twice, " x" once
      Seq("dup", "dup", "dup") -> 2L,
      Seq.empty[String] -> 1L,
      (null: Seq[String]) -> 0L)
    val rows = rddFrame(cases.map(c => Row(c._1)), bigramSchema)
      .select(topBigramCount(col("toks"))).collect().map(_.getLong(0))
    cases.zip(rows).foreach { case ((toks, want), got) =>
      assert(got == want, s"toks=$toks")
      if (toks != null) assert(referenceTop(toks) == want, s"reference, toks=$toks")
    }
  }
}
