package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

/** Pins the text of every DuckDB oracle, so an edit to how the oracle SQL
  * is assembled cannot change what the DuckDB gate runs. Each resource
  * line is `name<TAB>sha256`, the hash taken over the oracle's canonical
  * form ([[OracleTextSpec.canonical]]): layout may change, SQL may not.
  *
  * `oracle_text.tsv` covers every key of [[SparkEntry.oracleSql]];
  * `oracle_text_sf0.001.tsv` covers the data-dependent oracles generated
  * against the sf0.001 test tables. On a mismatch the listing the code
  * produces is written next to the test reports (`target/oracle_text*`)
  * for a diff against the resource; the resources are only ever re-cut
  * when an oracle's SQL is meant to change.
  */
class OracleTextSpec extends SparkSpec {
  import OracleTextSpec._

  private val sf = "/root/testdata/sf0.001"

  private val canonicalCases = Seq(
    "  SELECT\n\t a ,  b\n FROM t  " -> "SELECT a , b FROM t",
    "SELECT 'a  b\n c', x   FROM t" -> "SELECT 'a  b\n c', x FROM t",
    "SELECT 'it''s  x'   AS y" -> "SELECT 'it''s  x' AS y")

  test("canonical form collapses whitespace outside quoted literals only") {
    canonicalCases.foreach { case (sql, form) => assert(canonical(sql) === form) }
  }

  test("tools/oracle_diff.py canonicalizes every oracle as this spec does") {
    // oracle_diff.py's `whitespace-only` verdict must mean what this
    // spec's hashes mean: its `canonical` and this one agree on the unit
    // cases above and on every static oracle's SQL
    val inputs = canonicalCases.map(_._1) ++ SparkEntry.oracleSql.toSeq.sorted.map(_._2)
    val json = new com.fasterxml.jackson.databind.ObjectMapper
    val dir = Files.createTempDirectory("oracle-canonical")
    try {
      val in = dir.resolve("in.json")
      val out = dir.resolve("out.json")
      json.writeValue(in.toFile, inputs.toArray)
      val code = scala.sys.process.Process(Seq("python3", "-B", "-c",
        "import json, sys; sys.path.insert(0, 'tools'); from oracle_diff import canonical; " +
          "json.dump([canonical(s) for s in json.load(open(sys.argv[1]))], open(sys.argv[2], 'w'))",
        in.toString, out.toString)).!
      assert(code === 0, "python3 could not run tools/oracle_diff.py's canonical")
      val python = json.readValue(out.toFile, classOf[Array[String]]).toSeq
      assert(python.size === inputs.size)
      val differ = inputs.indices.filter(i => python(i) != canonical(inputs(i)))
      assert(differ.isEmpty, s"canonical forms differ on: ${differ.map(inputs(_).take(80))}")
    } finally graft.streaming.StagedEvents.deleteRecursively(dir)
  }

  test("every static oracle's SQL is the pinned text") {
    checkPinned("oracle_text.tsv", SparkEntry.oracleSql)
  }

  test("every data-dependent oracle generated at sf0.001 is the pinned text") {
    val names = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    val first = SparkEntry.oracleSqlFor(spark, sf, names)
    val second = SparkEntry.oracleSqlFor(spark, sf, names)
    // all 15 generators repeat within one JVM, so all are pinned; one that
    // stopped repeating could not be pinned and fails here first
    val unstable = first.keySet.filter(k => first(k) != second(k))
    assert(unstable.isEmpty, s"data-dependent oracles differ between two generations: $unstable")
    checkPinned("oracle_text_sf0.001.tsv", first)
  }

  private def checkPinned(resourceName: String, sql: Map[String, String]): Unit = {
    val actual = sql.map { case (k, v) => k -> sha256(canonical(v)) }
    val listing = actual.toSeq.sorted.map { case (k, h) => s"$k\t$h" }.mkString("", "\n", "\n")
    val pinned = Option(getClass.getClassLoader.getResource(resourceName))
      .map(u => Files.readString(Paths.get(u.toURI), UTF_8)).getOrElse("")
      .linesIterator.filter(_.nonEmpty).map { l =>
        val Array(k, h) = l.split("\t")
        k -> h
      }.toMap
    if (actual != pinned) {
      val out = Paths.get("target", resourceName.replace(".tsv", ".actual.tsv"))
      Files.createDirectories(out.getParent)
      Files.writeString(out, listing, UTF_8)
    }
    val missing = (pinned.keySet -- actual.keySet).toSeq.sorted
    val extra = (actual.keySet -- pinned.keySet).toSeq.sorted
    val changed = (actual.keySet & pinned.keySet).filter(k => actual(k) != pinned(k)).toSeq.sorted
    assert(missing.isEmpty && extra.isEmpty && changed.isEmpty,
      s"$resourceName: changed=$changed missing=$missing unpinned=$extra")
  }
}

object OracleTextSpec {

  /** Whitespace runs outside `'…'` literals collapsed to one space, then
    * trimmed. A doubled quote inside a literal closes and reopens it, so
    * it stays inside. `tools/oracle_diff.py` has its twin, checked
    * against this one above.
    */
  def canonical(sql: String): String = {
    val b = new StringBuilder
    var inLit = false
    var pendingSpace = false
    sql.foreach { c =>
      if (!inLit && " \t\n\r\f".indexOf(c) >= 0) pendingSpace = true
      else {
        if (pendingSpace && b.nonEmpty) b += ' '
        pendingSpace = false
        if (c == '\'') inLit = !inLit
        b += c
      }
    }
    b.result()
  }

  def sha256(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256").digest(s.getBytes(UTF_8))
      .map(x => f"${x & 0xff}%02x").mkString
}
