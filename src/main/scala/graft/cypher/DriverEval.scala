package graft.cypher

import org.apache.spark.sql.types._
import graft.core.PropertyGraph
import ast._

/** The driver-side evaluator for SET values: what a buffered write (and
  * a procedure argument) computes without a Spark job. Its contract is
  * the distributed SET path's (`GraftSession.setValueColumn` under
  * Spark's ANSI mode):
  *  - `+` concatenates when either operand is a string, two lists
  *    concatenate, numbers add; `||` concatenates only;
  *  - `/` yields a float, also on two integers;
  *  - null propagates.
  * Whatever it cannot reproduce exactly it declines (None), and the
  * caller takes the distributed path: other expression shapes, an
  * integer overflow or a zero divisor (ANSI errors there), a float
  * or a list rendered as a string, a list literal or concatenation
  * of mixed or unknown element type, and a null whose static type
  * would make Spark refuse the expression.
  *
  * Values are canonical Scala values (Long, Double, String, Boolean,
  * lists of one of them, null), each paired with the static type the
  * distributed plan gives it: the type decides `+`, and a null operand
  * carries no other. */
object DriverEval {
  type Typed = (Any, DataType)

  private val Ops = Set("+", "-", "*", "/", "%", "||")

  /** The canonical driver form of a scalar: narrow integers widen to
    * Long, Float to Double. Keys compare in this form. */
  def canon(v: Any): Any = v match {
    case i: java.lang.Integer => i.longValue
    case s: java.lang.Short   => s.longValue
    case b: java.lang.Byte    => b.longValue
    case f: java.lang.Float   => f.doubleValue
    case other                => other
  }

  /** The static type of a canonical value; None for a value the
    * evaluator does not model (maps, dates). A list whose elements do
    * not share one scalar type is a list of unknown (NullType)
    * elements: it can only be subscripted. */
  def typeOf(v: Any): Option[DataType] = v match {
    case null                     => Some(NullType)
    case _: Long                  => Some(LongType)
    case _: Double                => Some(DoubleType)
    case _: String                => Some(StringType)
    case _: Boolean               => Some(BooleanType)
    case s: collection.Seq[_]     => Some(ArrayType(elemType(s.map(typeOf)).getOrElse(NullType)))
    case _                        => None
  }

  /** One scalar element type for a list whose element types are `ts`
    * (null elements aside); None when they differ or none is known. */
  private def elemType(ts: collection.Seq[Option[DataType]]): Option[DataType] =
    if (ts.exists(_.isEmpty)) None
    else ts.flatten.filter(_ != NullType).distinct.toList match {
      case List(t @ (LongType | DoubleType | StringType | BooleanType)) => Some(t)
      case _ => None
    }

  /** `v` as a buffered column of type `t` holds it; None when it does
    * not fit (the write then takes the distributed path). */
  def fits(v: Any, t: DataType): Option[Any] = (v, t) match {
    case (null, _)                 => Some(null)
    case (x: Long, LongType)       => Some(x)
    case (x: Long, DoubleType)     => Some(x.toDouble)
    case (x: Double, DoubleType)   => Some(x)
    case (x: String, StringType)   => Some(x)
    case (x: Boolean, BooleanType) => Some(x)
    case _                         => None
  }

  /** The column-type rule of a buffered write: the frame's type when
    * it has the column, else the write buffer's, else the value's. */
  def colType(schema: StructType, buffered: collection.Map[String, DataType])(
      name: String, v: Any): DataType =
    known(schema, buffered)(name).getOrElse(PropertyGraph.literalType(v))

  def known(schema: StructType, buffered: collection.Map[String, DataType])(
      name: String): Option[DataType] =
    schema.fields.find(_.name == name).map(_.dataType).orElse(buffered.get(name))

  /** Whether [[eval]] takes `e` on: its own operators over leaves that
    * `leaf` accepts. A cheap shape check before any lookup runs. */
  def covers(e: Expr, leaf: Expr => Boolean): Boolean = e match {
    case Lit(_)          => true
    case ListLit(items)  => items.forall(covers(_, leaf))
    case Subscript(b, i) => covers(b, leaf) && covers(i, leaf)
    case Arith(op, l, r) => Ops(op) && covers(l, leaf) && covers(r, leaf)
    case other           => leaf(other)
  }

  /** `e` evaluated on the driver; `leaf` resolves everything else
    * (properties, row fields) to a value and its static type. */
  def eval(e: Expr, leaf: Expr => Option[Typed]): Option[Typed] = e match {
    case Lit(v) => typed(deep(v), NullType)
    case ListLit(items) =>
      val vs = items.map(eval(_, leaf))
      if (vs.exists(_.isEmpty)) None
      else elemType(vs.map(x => Some(x.get._2))).map(t => (vs.map(_.get._1), ArrayType(t)))
    case Subscript(b, i) =>
      (eval(b, leaf), eval(i, leaf)) match {
        case (Some((bv, ArrayType(et, _))), Some((iv, LongType | NullType))) => (bv, iv) match {
          case (null, _) | (_, null) => Some((null, et))
          // the index casts to int: past its range ANSI mode raises
          case (s: collection.Seq[_], ix: Long) if ix >= Int.MinValue && ix < Int.MaxValue =>
            val at = if (ix < 0) s.size + ix else ix
            typed(if (at >= 0 && at < s.size) s(at.toInt) else null, et)
          case _ => None
        }
        case _ => None
      }
    case Arith(op, l, r) if Ops(op) =>
      for ((a, ta) <- eval(l, leaf); (b, tb) <- eval(r, leaf); out <- arith(op, a, ta, b, tb))
        yield out
    case Arith(_, _, _) => None
    case other => leaf(other).flatMap { case (v, t) => typed(v, t) }
  }

  private def deep(v: Any): Any = v match {
    case s: collection.Seq[_] => s.map(deep)
    case other                => canon(other)
  }

  /** A non-null value carries its own type; a null the one given. */
  private def typed(v: Any, nullType: DataType): Option[Typed] =
    if (v == null) Some((null, nullType)) else typeOf(v).map(v -> _)

  private def arith(op: String, a: Any, ta: DataType, b: Any, tb: DataType): Option[Typed] = {
    val anyNull = a == null || b == null
    def numeric(t: DataType) = t == LongType || t == DoubleType || t == NullType
    (ta, tb) match {
      case (ArrayType(x, _), ArrayType(y, _)) if op == "+" || op == "||" =>
        if (x != y || x == NullType) None // Spark would coerce the element types
        else Some((if (anyNull) null else seq(a) ++ seq(b), ArrayType(x)))
      case _ if op == "||" || (op == "+" && (ta == StringType || tb == StringType)) =>
        // the other operand casts to string; a float's rendering and a
        // list's are Spark's own, so those decline
        val stringable = Set[DataType](StringType, LongType, BooleanType, NullType)
        if (!stringable(ta) || !stringable(tb)) None
        else Some((if (anyNull) null else s"$a$b", StringType))
      case _ if numeric(ta) && numeric(tb) =>
        val floating = op == "/" || ta == DoubleType || tb == DoubleType
        val rt = if (floating) DoubleType else if (ta == LongType || tb == LongType) LongType else NullType
        if (anyNull) Some((null, rt))
        else if ((op == "/" || op == "%") && (b == 0L || b == 0.0)) None
        else if (floating) {
          val (x, y) = (num(a), num(b))
          Some((op match {
            case "+" => x + y; case "-" => x - y; case "*" => x * y
            case "/" => x / y; case _ => x % y
          }, DoubleType))
        } else {
          val (x, y) = (BigInt(a.asInstanceOf[Long]), BigInt(b.asInstanceOf[Long]))
          val z = op match {
            case "+" => x + y; case "-" => x - y; case "*" => x * y; case _ => x % y
          }
          if (z.isValidLong) Some((z.toLong, LongType)) else None // ANSI overflow
        }
      case _ => None
    }
  }

  private def num(v: Any): Double = v match {
    case l: Long => l.toDouble
    case d: Double => d
  }

  private def seq(v: Any): collection.Seq[Any] = v.asInstanceOf[collection.Seq[Any]]
}
