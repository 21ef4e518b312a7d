package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions._

import graft.expressions.HashLookup

/** `graft_hash_lookup` must answer what a left equi-join against the same
  * entries answers: the matching entry's values, or nulls where none
  * matches, a key with a null part included. Checked once through
  * whole-stage codegen and once interpreted, for one and two key columns.
  */
class HashLookupSpec extends SparkSpec {
  import spark.implicits._

  private val fields = Seq("Fraction", "BioReplicate", "Condition")

  private val entries: Seq[(Seq[String], Seq[String])] = Seq(
    Seq("r1", "L") -> Seq("1", "bioRep1", "A"),
    Seq("r1", "H") -> Seq("2", "bioRep2", "B"),
    Seq("r2", "L") -> Seq(null, "bioRep3", "C"),
    Seq("r3", null) -> Seq("9", "bioRep9", "X")) // a null key part: never matched

  /** Rows with null, matching and unmatched parts, from a non-local source. */
  private def rows: DataFrame = spark.range(0, 60).select(col("id"),
    when(col("id") % 5 =!= 0, concat(lit("r"), (col("id") % 4).cast("string"))).as("run"),
    when(col("id") % 7 =!= 0,
      when(col("id") % 2 === 0, lit("L")).otherwise(lit("H"))).as("label"))

  private def assertLikeJoin(keys: Seq[String]): DataFrame = {
    val used = entries.map { case (k, v) => (k.take(keys.size), v) }
      .groupBy(_._1).map(_._2.head).toSeq // one entry per key
    val probed = rows.select(col("id"), HashLookup(keys.map(col), fields, used).as("m"))
      .select(col("id") +: fields.map(f => col(s"m.$f").as(f)) :+ col("m").isNull.as("miss"): _*)
    val table = used.map { case (k, v) => (k ++ Seq.fill(2 - k.size)(null)) ++ v }
      .map(s => (s(0), s(1), s(2), s(3), s(4))).toDF(("k0" +: "k1" +: fields): _*)
    val byJoin = rows.join(table,
      keys.zip(Seq("k0", "k1")).map { case (k, t) => col(k) === col(t) }.reduce(_ && _), "left")
      .select(col("id") +: fields.map(col) :+ col("k0").isNull.as("miss"): _*)
    assert(probed.orderBy("id").collect().toSeq === byJoin.orderBy("id").collect().toSeq)
    assert(probed.filter(!col("miss")).count() > 0)
    probed
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

  test("lookup equals a left equi-join under whole-stage codegen") {
    withConf("spark.sql.codegen.wholeStage" -> "true",
      "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY") {
      for (keys <- Seq(Seq("run"), Seq("run", "label"))) {
        val plan = assertLikeJoin(keys).queryExecution.executedPlan
        val fused = plan.collect { case w: WholeStageCodegenExec => w.child }
        assert(fused.exists(_.find(_.expressions.exists(
          _.find(_.isInstanceOf[HashLookup]).isDefined)).isDefined), plan)
      }
    }
  }

  test("lookup equals a left equi-join under interpreted evaluation") {
    withConf("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") {
      for (keys <- Seq(Seq("run"), Seq("run", "label"))) assertLikeJoin(keys)
    }
  }

  test("plans print the lookup's keys, not its table") {
    val df = rows.select(HashLookup(Seq(col("run")), fields,
      entries.map { case (k, v) => (k.take(1), v) }.distinctBy(_._1)).as("m"))
    val text = df.queryExecution.toString
    assert(text.contains("graft_hash_lookup"), text)
    assert(!text.contains("bioRep1"), text)
  }
}
