package graft.expressions

import java.util.{Arrays, HashMap => JHashMap, List => JList}

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnShim
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.{DataType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** A lookup table built on the driver and probed with one hash lookup per
  * row: the struct `table` holds for the key the `keys` evaluate to, or null
  * when it holds none or a key part is null (an equi-join never matches a
  * null key either).
  *
  * Spark's literal-map lookup (`element_at` over a `typedLit` map) compares
  * the key with every entry in turn, so it costs O(rows × entries); this
  * costs O(rows) whatever the table's size.
  */
case class HashLookup(
    keys: Seq[Expression],
    table: JHashMap[JList[UTF8String], InternalRow],
    dataType: StructType) extends Expression {

  override def children: Seq[Expression] = keys
  override def nullable: Boolean = true
  override def prettyName: String = "graft_hash_lookup"
  // the table can hold thousands of entries: plans print the keys only
  override protected def flatArguments: Iterator[Any] = keys.iterator
  override protected def stringArgs: Iterator[Any] = keys.iterator

  override def checkInputDataTypes(): TypeCheckResult =
    keys.find(_.dataType != StringType) match {
      case None => TypeCheckResult.TypeCheckSuccess
      case Some(k) => TypeCheckResult.TypeCheckFailure(
        s"graft_hash_lookup expects string keys, got ${k.dataType}")
    }

  override def eval(input: InternalRow): Any = {
    val parts = keys.map(_.eval(input))
    if (parts.contains(null)) null
    else table.get(Arrays.asList(parts.map(_.asInstanceOf[UTF8String]): _*))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("table", table, classOf[JHashMap[_, _]].getName)
    val parts = keys.map(_.genCode(ctx))
    ev.copy(code = code"""
      ${parts.map(_.code).mkString("\n")}
      InternalRow ${ev.value} = null;
      if (!(${parts.map(_.isNull).mkString(" || ")})) {
        ${ev.value} = (InternalRow) $ref.get(java.util.Arrays.asList(
          new Object[] {${parts.map(_.value).mkString(", ")}}));
      }
      boolean ${ev.isNull} = ${ev.value} == null;""")
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression = copy(keys = newChildren)
}

object HashLookup {

  /** Probe `keys` against `entries` (a key, one string per key column, and
    * the values of `fields`); the result is a struct of string `fields`.
    * Entries whose key has a null part are left out, as no probe matches
    * them. The caller keeps keys unique.
    */
  def apply(keys: Seq[Column], fields: Seq[String],
            entries: Iterable[(Seq[String], Seq[String])]): Column = {
    val table = new JHashMap[JList[UTF8String], InternalRow]()
    for ((key, values) <- entries if !key.contains(null))
      table.put(Arrays.asList(key.map(UTF8String.fromString): _*),
        InternalRow.fromSeq(values.map(UTF8String.fromString)))
    GraftColumnShim.column(HashLookup(
      keys.map(k => GraftColumnShim.expression(k.cast(StringType))), table,
      StructType(fields.map(StructField(_, StringType)))))
  }
}
