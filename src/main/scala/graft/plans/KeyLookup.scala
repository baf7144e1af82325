package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types.DataType

/** A column of driver-held rows, looked up by a LONG key: `values`
  * maps each key to the row's value in Catalyst's internal form, and
  * a key with no row reads null. It stands in for a join against a
  * small frame whose rows the driver already holds (the anchor
  * frontier of a path, see `CypherCompiler.compileHop`): the lookup
  * is a hash probe per row, and the plan needs no broadcast stage.
  * The plan text names the key count, not the keys. */
case class KeyLookup(child: Expression, values: Map[Long, Any], dataType: DataType)
    extends UnaryExpression with CodegenFallback {

  override def nullable: Boolean = true

  override protected def nullSafeEval(key: Any): Any =
    values.getOrElse(key.asInstanceOf[Long], null)

  override def toString: String = s"lookup($child, ${values.size} keys)"

  override def sql: String = s"lookup(${child.sql}, ${values.size} keys)"

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
