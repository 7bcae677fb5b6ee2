package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.Text

/** The one-pass TextProfile must reproduce every composed-builtin feature it
  * replaced (language marker hits, stopword hits, token count, alpha chars),
  * and the RegexpMatchCount and WhitespaceTokenCount natives must equal the
  * materializing composed forms. The optimizer rule is checked on real plans.
  */
class TextProfileSpec extends AnyFunSuite with SparkSpec {

  private def genDocs: Seq[String] = {
    val word = Gen.oneOf(
      "THE", "The", "the", "and", "of", "el", "la", "de", "der", "und",
      "le", "est", "x", "中文", "a1b2", "...", "off", "theory", "7")
    val doc = for {
      k <- Gen.choose(0, 25)
      ws <- Gen.listOfN(k, word)
      lead <- Gen.oneOf("", "  ", "\t", "\n")
      trail <- Gen.oneOf("", " ")
    } yield lead + ws.mkString(" ") + trail
    (Gen.listOfN(300, doc).sample.get :+ "" :+ "the de la of und est").distinct
  }

  /** Edge inputs for the whitespace token count: each of Java's six `\s`
    * bytes (U+000B included) alone and between words; wider Unicode spaces
    * that Java's `\s` does not match (NBSP, NEL, U+2028, U+3000); multibyte
    * words; empty and whitespace-only text; leading and trailing runs.
    */
  private val wsEdges: Seq[String] =
    Seq(" ", "\t", "\n", "\u000B", "\f", "\r").flatMap(w => Seq(w, s"a${w}b", s"a$w$w${w}b")) ++
      Seq("a\u00A0b", "a\u0085b", "a\u2028b", "a\u3000b", "\u00A0", "\u3000 \u2028",
        "中文 ñandú  日本語", "é\tü\u000Bß", "", "   ", " \t\n\u000B\f\r ",
        "  lead", "trail \t", " both ", "\u000Bvt\u000B")

  test("profile features == composed builtins on generated texts") {
    import spark.implicits._
    val p = Text.profile(col("t"))
    val langCols = Text.LangMarkers.zipWithIndex.flatMap { case ((lang, m), i) =>
      Seq(p.getItem(i).as(s"n_$lang"),
        Text.markerHitsComposed(col("t"), m).as(s"c_$lang"))
    }
    val cols = langCols ++ Seq(
      p.getItem(5).as("n_stop"),
      Text.markerHitsComposed(col("t"), Text.Stopwords).as("c_stop"),
      p.getItem(6).as("n_tok"),
      size(split(col("t"), "\\s+")).as("c_tok"),
      p.getItem(7).as("n_alpha"),
      length(regexp_replace(col("t"), "[^A-Za-z]", "")).as("c_alpha"),
      Text.wordCount(col("t")).as("n_wc"),
      size(split(col("t"), "\\s+")).as("c_wc"),
      col("t"))
    val texts = (genDocs ++ wsEdges).map(Option(_)) :+ None
    // A local relation is evaluated by the optimizer (interpreted); the
    // parquet-backed frame runs the generated code.
    val dir = tmpDir("text-profile")
    texts.toDF("t").write.mode("overwrite").parquet(dir)
    val stored = spark.read.parquet(dir).select(cols: _*)
    assert(stored.queryExecution.executedPlan
      .exists(_.isInstanceOf[org.apache.spark.sql.execution.WholeStageCodegenExec]))
    val interpreted = graft.plans.WhitespaceTokenCount(
      org.apache.spark.sql.catalyst.expressions.BoundReference(
        0, org.apache.spark.sql.types.StringType, nullable = true))
    Seq(texts.toDF("t").select(cols: _*), stored).foreach { df =>
      val rows = df.collect()
      assert(rows.length == texts.length)
      rows.foreach { r =>
        val t = Option(r.getString(18))
        val shown = t.fold("null")(x => s"'${x.flatMap(c => if (c < ' ') f"\\u${c.toInt}%04x" else c.toString)}'")
        t.foreach { _ =>
          (0 until 6).foreach { i =>
            assert(r.getInt(2 * i) == r.getInt(2 * i + 1), s"marker set $i mismatch for $shown")
          }
          assert(r.getInt(12) == r.getInt(13), s"token count mismatch for $shown")
          assert(r.getInt(14) == r.getInt(15), s"alpha mismatch for $shown")
        }
        assert(r.get(16) == r.get(17), s"word count mismatch for $shown")
        assert(interpreted.eval(org.apache.spark.sql.catalyst.InternalRow(
          t.map(org.apache.spark.unsafe.types.UTF8String.fromString).orNull)) == r.get(17),
          s"interpreted word count mismatch for $shown")
      }
      assert(rows.exists(r => r.isNullAt(18) && r.isNullAt(16) && r.isNullAt(17)))
    }
  }

  test("langId / qualityScore over documents: single-profile forms keep their semantics") {
    val docs = Tables.load(spark, TestSpark.sf0001, "documents")
    // langId via profile == the per-set composed argmax built the old way
    val composedLang = {
      val scores = Text.LangMarkers.map { case (lang, m) =>
        (lang, Text.markerHitsComposed(col("text"), m))
      }
      val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
      scores.foldRight(lit("und")) { case ((lang, s), acc) =>
        when(s === best && best > 0, lit(lang)).otherwise(acc)
      }
    }
    val mism = docs.select(Text.langId(col("text")).as("n"), composedLang.as("c"))
      .where(col("n") =!= col("c")).count()
    assert(mism == 0, s"$mism langId mismatches vs composed argmax")

    // quality features via profile == fully composed recomputation
    val t = split(col("text"), "\\s+")
    val nTok = size(t).cast("long")
    val nChars = length(col("text")).cast("long")
    val alpha = length(regexp_replace(col("text"), "[^A-Za-z]", "")).cast("long")
    val stop = Text.markerHitsComposed(col("text"), Text.Stopwords).cast("long")
    val comparisons = Seq(
      ("n_tokens", nTok), ("n_chars", nChars),
      ("alpha_ratio", alpha.cast("double") / nChars.cast("double")),
      ("mean_word_len", nChars.cast("double") / nTok.cast("double")),
      ("stopword_ratio", stop.cast("double") / nTok.cast("double")))
    val feats = Text.qualityFeatures(col("text")).toMap
    comparisons.foreach { case (name, composed) =>
      val bad = docs.select(feats(name).as("n"), composed.as("c"))
        .where(not(col("n") <=> col("c"))).count()
      assert(bad == 0, s"feature $name diverged from composed form")
    }
  }

  test("profile: null -> null; langId(null) = 'und' as before") {
    import spark.implicits._
    val row = Seq[Option[String]](None).toDF("t")
      .select(Text.profile(col("t")), Text.langId(col("t"))).head()
    assert(row.isNullAt(0))
    assert(row.getString(1) == "und")
  }

  test("regexp_match_count: native == composed; null -> null") {
    import spark.implicits._
    val inputs = genDocs :+ "a1!b2?c3" :+ "   " :+ "...---..."
    val rows = inputs.toDF("t")
      .select(Text.bpeishTokenCount(col("t")).as("n"),
        Text.bpeishTokenCountComposed(col("t")).as("c"), col("t"))
      .collect()
    rows.foreach(r => assert(r.getInt(0) == r.getInt(1), s"mismatch for '${r.getString(2)}'"))
    val nul = Seq[Option[String]](None).toDF("t")
      .select(Text.bpeishTokenCount(col("t")), Text.bpeishTokenCountComposed(col("t"))).head()
    assert(nul.isNullAt(0) && nul.isNullAt(1))
  }

  test("hashing embedding: partition-invariant, duplicate-consistent, fixed width") {
    import spark.implicits._
    val docs = Seq((1L, "a b c a"), (2L, "a b c a"), (3L, "x y zz"), (4L, ""))
      .toDF("doc_id", "text")
    def run(parts: Int): Map[Long, Seq[Double]] =
      Text.hashingTrickEmbedding(docs.repartition(parts), col("doc_id"), col("text"), 16)
        .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val p1 = run(1)
    val p4 = run(4)
    assert(p1 == p4, "vectors must not depend on partitioning")
    assert(p1(1L) == p1(2L), "identical texts -> identical vectors")
    assert(p1.keySet == Set(1L, 2L, 3L, 4L) && p1.values.forall(_.size == 16))
    assert(p1(1L) != p1(3L), "different texts -> (generically) different vectors")
  }

  test("rewrite rule: size(regexp_extract_all) and built-in regexp_count become RegexpMatchCount") {
    // parquet-backed input: a literal local relation would be constant-folded
    // away before the rule could see the expression
    val docs = Tables.load(spark, TestSpark.sf0001, "documents")
    val df = docs.select(Text.bpeishTokenCountComposed(col("text")).as("n"))
    val before = df.queryExecution.optimizedPlan
    assert(!before.toString.contains("regexp_match_count"))
    val after = graft.plans.GraftRewriteRule(before)
    assert(after.toString.contains("regexp_match_count"),
      s"composed form must rewrite to the native count:\n$after")

    // Spark's built-in regexp_count is RuntimeReplaceable sugar for the same
    // composed form — after ReplaceExpressions it matches the rule too.
    val builtin = docs.selectExpr("regexp_count(text, '[a-z]+') AS n")
    val after2 = graft.plans.GraftRewriteRule(builtin.queryExecution.optimizedPlan)
    assert(after2.toString.contains("regexp_match_count"),
      s"built-in regexp_count must rewrite:\n$after2")
  }
}
