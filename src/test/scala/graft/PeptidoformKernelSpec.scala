package graft

import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions._

import graft.expressions.NormalizePeptidoform
import graft.functions.Peptides

/** `graft_normalize_peptidoform` must equal, string for string, the chain
  * of one `regexp_replace` per table entry that normalizeSequence used to
  * be. The chain is kept here, verbatim, as the oracle; a seeded fuzz aims
  * at what a hand-written scanner gets wrong (Unicode case folds, leading
  * zeros, nested and split tags, prefixes), and runs once interpreted and
  * once through whole-stage codegen.
  */
class PeptidoformKernelSpec extends SparkSpec {
  import spark.implicits._

  /** The former normalizeSequence body. */
  private def chain(c: Column): Column = {
    val massNamed = Peptides.massForms.foldLeft(c) { case (acc, (mass, name)) =>
      regexp_replace(acc, java.util.regex.Pattern.quote(s"[$mass]"), s"($name)")
    }
    val renamed = Peptides.unimodNames.foldLeft(massNamed) { case (acc, (id, name)) =>
      regexp_replace(acc, s"(?i)\\(UniMod:$id\\)", s"($name)")
    }
    val caret = renamed.startsWith("^")
    val body = when(caret, renamed.substr(lit(2), length(renamed))).otherwise(renamed)
    val dotted = when(body.startsWith("("), concat(lit("."), body)).otherwise(body)
    when(caret, concat(lit("^"), dotted)).otherwise(dotted)
  }

  private val edgeCases: Seq[String] = Seq(
    "(UNıMOD:35)", "(UNİMOD:35)", "(UniMod:035)", "(UniMod:999)", "(UniMod:)",
    "(UniMod:35", "UniMod:35)", "(uNiMoD:35)", "(UNIMOD:4)(UniMod:4)",
    "[[+42.01]", "[+42.0", "[+42.01", "+42.01]", "[+304.21]", "[-18.01]", "[]", "[[]]",
    "[+42.01][+42.01]", "[+42.01]]", "(Uni(SILAC)Mod:35)", "[+42(SILAC).01]",
    "(SILAC)(UniMod:1)PEPK", "(Label:13C(6))", "(Label:13C(6)15N(2))PEPK(UniMod:188)",
    "^(UniMod:1)PEPTIDEK", "^[+42.01]PEPTIDEK", "^.(Acetyl)PEP", ".(UniMod:1)PEP",
    "^^(UniMod:1)", "^", "^(", "^[", "(", "[", "]", "()", "", "PEPTIDEK",
    "AAC(UniMod:4)LLPK", "PEPK[+304.207146]TIDE", "é(UniMod:35)ı[+15.99]😀")

  /** Pieces a peptidoform grammar and its near misses are made of. */
  private val pieces: IndexedSeq[String] = {
    val ids = Peptides.unimodNames.keys.toSeq.map(_.toString)
    val masses = Peptides.massForms.map(_._1)
    ("ACDEFGHIKLMNPQRSTVWY".map(_.toString) ++
      Seq("(", ")", "[", "]", "^", ".", ":", "+", "-", "0", "7", "99", "999",
        "UniMod:", "UNIMOD:", "unimod:", "Uni", "Mod:", "(SILAC)", "SILAC",
        "ı", "İ", "\u212A", "é", "😀", "\uD800", "Label:13C(6)") ++
      ids ++ ids.map("0" + _) ++ masses ++ masses.map(_.dropRight(1)) ++
      Peptides.unimodNames.values).toIndexedSeq
  }

  /** `unimod:` in a random ASCII casing, sometimes with a non-ASCII i. */
  private def tag(rnd: Random): String = {
    val t = "unimod:".map(ch => if (rnd.nextBoolean()) ch.toUpper else ch).mkString
    rnd.nextInt(20) match {
      case 0 => t.replaceFirst("(?i)i", "ı")
      case 1 => t.replaceFirst("(?i)i", "İ")
      case _ => t
    }
  }

  private def fuzz(n: Int, seed: Long): Seq[String] = {
    val rnd = new Random(seed)
    val ids = Peptides.unimodNames.keys.toIndexedSeq
    val masses = Peptides.massForms.map(_._1).toIndexedSeq
    Seq.fill(n) {
      val sb = new StringBuilder
      if (rnd.nextInt(6) == 0) sb ++= "^"
      (0 until rnd.nextInt(10)).foreach { _ =>
        rnd.nextInt(8) match {
          case 0 => sb ++= s"(${tag(rnd)}${ids(rnd.nextInt(ids.size))})"
          case 1 => sb ++= s"[${masses(rnd.nextInt(masses.size))}]"
          case 2 => sb ++= s"(${tag(rnd)}${rnd.nextInt(3000)})"
          case _ => sb ++= pieces(rnd.nextInt(pieces.size))
        }
      }
      sb.toString
    }
  }

  private lazy val inputs: DataFrame = {
    val all = (edgeCases ++ fuzz(120000, seed = 20240611L)).map(Option(_)) :+ None
    spark.sparkContext.parallelize(all, 4).toDF("x")
  }

  /** Kernel vs chain on every input, raw and after sanitizeSequence; fails
    * with a sample of the mismatches. Returns the compared frame.
    */
  private def assertEquivalent(): DataFrame = {
    val x = col("x")
    val sx = Peptides.sanitizeSequence(x)
    val df = inputs.select(x,
      Peptides.normalizeSequence(x).as("kernel"), chain(x).as("oracle"),
      Peptides.normalizeSequence(sx).as("kernel_s"), chain(sx).as("oracle_s"))
    val mismatch = !(col("kernel") <=> col("oracle")) || !(col("kernel_s") <=> col("oracle_s"))
    val counts = df.agg(count(lit(1)), count(when(mismatch, 1)),
      count(when(col("kernel") =!= x, 1))).head()
    if (counts.getLong(1) > 0)
      fail(s"${counts.getLong(1)} mismatches, e.g.\n" +
        df.filter(mismatch).limit(20).collect().mkString("\n"))
    // the fuzz must exercise rewrites, not only pass-through
    assert(counts.getLong(2) * 2 > counts.getLong(0), counts)
    df
  }

  private def withConf[T](kv: (String, String)*)(body: => T): T = {
    val conf = spark.conf
    val before = kv.map { case (k, _) => k -> conf.getOption(k) }
    kv.foreach { case (k, v) => conf.set(k, v) }
    try body
    finally before.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  test("kernel equals the regexp_replace chain under whole-stage codegen") {
    withConf("spark.sql.codegen.wholeStage" -> "true",
      "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY") {
      val df = assertEquivalent()
      // the kernel is evaluated inside a fused stage, through doGenCode
      val plan = df.queryExecution.executedPlan
      val fused = plan.collect { case w: WholeStageCodegenExec => w.child }
      assert(fused.exists(_.find(_.expressions.exists(
        _.find(_.isInstanceOf[NormalizePeptidoform]).isDefined)).isDefined), plan)
    }
  }

  test("kernel equals the regexp_replace chain under interpreted evaluation") {
    withConf("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") {
      val df = assertEquivalent()
      assert(df.queryExecution.executedPlan.find(_.isInstanceOf[WholeStageCodegenExec]).isEmpty)
    }
  }

  test("edge cases: the kernel's answers, spelled out") {
    val want = Seq(
      "M(UNıMOD:35)" -> "M(UNıMOD:35)",
      "M(UniMod:035)" -> "M(UniMod:035)",
      "M(UniMod:999)" -> "M(UniMod:999)",
      "M(uNiMoD:35)" -> "M(Oxidation)",
      "[[+42.01]" -> "[(Acetyl)",
      "K[+42.0" -> "K[+42.0",
      "K[+304.21]" -> "K[+304.21]",
      "S[-18.01]" -> "S[-18.01]",
      "^[+42.01]PEP" -> "^.(Acetyl)PEP",
      "(Label:13C(6))K" -> ".(Label:13C(6))K",
      "" -> "")
    val got = want.map(_._1).toDF("x")
      .select(Peptides.normalizeSequence(col("x"))).as[String].collect().toSeq
    assert(got === want.map(_._2))
    val sanitized = Seq("M(Uni(SILAC)Mod:35)").toDF("x")
      .select(Peptides.normalizeSequence(Peptides.sanitizeSequence(col("x"))))
      .as[String].head()
    assert(sanitized === "M(Oxidation)")
  }
}
