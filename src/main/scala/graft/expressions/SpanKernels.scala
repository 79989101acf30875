package graft.expressions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, ArrayData, GenericArrayData, MapData}
import org.apache.spark.sql.GraftSqlBridge
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, MapType, StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** The per-span and per-trace kernels of the paper pass (T2-T4 of
  * `SpanOps.flatten`, K1/K4 of `TraceOps.summarize`) as one compiled
  * loop each. Their higher-order spellings (`transform`/`filter`/
  * `exists`/`aggregate` nests) are `CodegenFallback` in Spark 4.1, so
  * every span ran through the interpreted lambda tree, and the last-win
  * fold re-evaluated its inner `transform` once per tag. Each kernel
  * below is one static method that both the interpreted `eval` and the
  * generated code call, so the two paths cannot disagree.
  *
  * Fields are found by name in the child's struct type, so any span or
  * tag struct that carries them (the Jaeger schema, the ES schema,
  * `assembleTraces` output) is accepted; extra fields are ignored. */
object SpanKernels {

  private val ChildOf = UTF8String.fromString("CHILD_OF")
  private val Error = UTF8String.fromString("error")

  /** T4 last-win fold: the tag array as a map, each key's LAST occurrence
    * kept, entries in the order those occurrences appear; null values are
    * kept. A null key (or a null tag) keeps the result of the
    * higher-order form this replaced, whose `exists` compared keys in
    * three-valued logic: a null key in the LAST tag raises Spark's
    * `NULL_MAP_KEY`; anywhere else it drops itself and every tag before
    * it (`[null-key, a]` → `{a}`). Tag lists are short, so the check for
    * a later occurrence is a pairwise scan. */
  def lastWinMap(tags: ArrayData, nFields: Int, keyOrd: Int,
      valueOrd: Int): MapData = {
    val n = tags.numElements()
    val keys = new Array[Any](n)
    val values = new Array[Any](n)
    // distinct keys fill keys/values from the back, scanning backwards,
    // so the first occurrence seen is the last one and the kept entries
    // end up in array order
    var m = n
    var i = n - 1
    while (i >= 0 && !tags.isNullAt(i) &&
        !tags.getStruct(i, nFields).isNullAt(keyOrd)) {
      val t = tags.getStruct(i, nFields)
      val k = t.getUTF8String(keyOrd)
      var j = m
      while (j < n && !keys(j).equals(k)) j += 1
      if (j == n) {
        m -= 1
        keys(m) = k
        values(m) = if (t.isNullAt(valueOrd)) null else t.getUTF8String(valueOrd)
      }
      i -= 1
    }
    if (i == n - 1 && n > 0) throw GraftSqlBridge.nullMapKeyError()
    new ArrayBasedMapData(new GenericArrayData(keys.slice(m, n)),
      new GenericArrayData(values.slice(m, n)))
  }

  /** T3 parent: the spanID of the first non-null `CHILD_OF` reference
    * ("" when that spanID is null, when there is no such reference, or
    * when `refs` is null). */
  def parent(refs: ArrayData, nFields: Int, typeOrd: Int,
      spanOrd: Int): UTF8String = {
    if (refs != null) {
      val n = refs.numElements()
      var i = 0
      while (i < n) {
        if (!refs.isNullAt(i)) {
          val r = refs.getStruct(i, nFields)
          if (!r.isNullAt(typeOrd) && r.getUTF8String(typeOrd).equals(ChildOf))
            return if (r.isNullAt(spanOrd)) UTF8String.EMPTY_UTF8
                   else r.getUTF8String(spanOrd)
        }
        i += 1
      }
    }
    UTF8String.EMPTY_UTF8
  }

  /** K1 root span: the first span whose `references` is an empty (not
    * null) array, else `spans[0]` (first, not earliest: the reference's
    * quirk), null when the array is empty or that element is null. */
  def rootSpan(spans: ArrayData, nFields: Int, refsOrd: Int): InternalRow = {
    val n = spans.numElements()
    var i = 0
    while (i < n) {
      if (!spans.isNullAt(i)) {
        val s = spans.getStruct(i, nFields)
        if (!s.isNullAt(refsOrd) && s.getArray(refsOrd).numElements() == 0)
          return s
      }
      i += 1
    }
    if (n == 0 || spans.isNullAt(0)) null else spans.getStruct(0, nFields)
  }

  /** K4 error count: the number of `error`-keyed TAGS over all spans (a
    * span with two error tags counts twice); 0 for a null array. */
  def errTagCount(spans: ArrayData, nFields: Int, tagsOrd: Int,
      nTagFields: Int, keyOrd: Int): Int = {
    if (spans == null) return 0
    var c = 0
    val n = spans.numElements()
    var i = 0
    while (i < n) {
      if (!spans.isNullAt(i)) {
        val s = spans.getStruct(i, nFields)
        if (!s.isNullAt(tagsOrd)) {
          val tags = s.getArray(tagsOrd)
          val nt = tags.numElements()
          var j = 0
          while (j < nt) {
            if (!tags.isNullAt(j)) {
              val t = tags.getStruct(j, nTagFields)
              if (!t.isNullAt(keyOrd) && t.getUTF8String(keyOrd).equals(Error))
                c += 1
            }
            j += 1
          }
        }
      }
      i += 1
    }
    c
  }

  /** The struct type of an array-of-struct, if `t` is one. */
  private[expressions] def elementStruct(t: DataType): Option[StructType] =
    t match {
      case ArrayType(s: StructType, _) => Some(s)
      case _ => None
    }

  /** The ordinal of field `f` of `s`, if it has one. */
  private[expressions] def ordinal(s: StructType, f: String): Option[Int] =
    Some(s.fieldNames.indexOf(f)).filter(_ >= 0)

  /** `fields` are string fields of `s`. */
  private[expressions] def hasStrings(s: StructType, fields: String*): Boolean =
    fields.forall(f => ordinal(s, f).exists(s(_).dataType == StringType))

  private[expressions] def check(ok: Boolean, name: String,
      want: String, got: DataType): TypeCheckResult =
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$name expects $want, got ${got.catalogString}")

  private[expressions] val Self = "graft.expressions.SpanKernels"
}

/** `tags: array<struct<key:string, …, <valueField>:string>>` → the
  * last-win `map<string,string>` ([[SpanKernels.lastWinMap]]); null
  * array → null. */
case class LastWinMap(child: Expression, valueField: String)
    extends UnaryExpression {
  import SpanKernels._

  override def checkInputDataTypes(): TypeCheckResult = check(
    elementStruct(child.dataType).exists(hasStrings(_, "key", valueField)),
    prettyName, s"array<struct<key:string,$valueField:string>>", child.dataType)

  @transient private lazy val tag = elementStruct(child.dataType).get

  override def dataType: DataType = MapType(StringType, StringType,
    valueContainsNull = child.dataType.asInstanceOf[ArrayType].containsNull ||
      tag(valueField).nullable)

  override def prettyName: String = "graft_last_win_map"

  private def args = s"${tag.length}, ${tag.fieldIndex("key")}, " +
    s"${tag.fieldIndex(valueField)}"

  override def nullSafeEval(input: Any): Any = lastWinMap(
    input.asInstanceOf[ArrayData], tag.length, tag.fieldIndex("key"),
    tag.fieldIndex(valueField))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"$Self.lastWinMap($c, $args)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `references: array<struct<refType:string, spanID:string, …>>` → the
  * parent spanID, never null ([[SpanKernels.parent]]). */
case class ParentSpanId(child: Expression) extends UnaryExpression {
  import SpanKernels._

  override def checkInputDataTypes(): TypeCheckResult = check(
    elementStruct(child.dataType).exists(hasStrings(_, "refType", "spanID")),
    prettyName, "array<struct<refType:string,spanID:string>>", child.dataType)

  @transient private lazy val ref = elementStruct(child.dataType).get

  override def dataType: DataType = StringType

  override def nullable: Boolean = false

  override def prettyName: String = "graft_parent_span_id"

  override def eval(input: InternalRow): Any = parent(
    child.eval(input).asInstanceOf[ArrayData], ref.length,
    ref.fieldIndex("refType"), ref.fieldIndex("spanID"))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      |${c.code}
      |UTF8String ${ev.value} = $Self.parent(${c.isNull} ? null : ${c.value},
      |  ${ref.length}, ${ref.fieldIndex("refType")}, ${ref.fieldIndex("spanID")});
      |""".stripMargin, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `spans: array<struct<references:array<…>, …>>` → the root span struct
  * ([[SpanKernels.rootSpan]]); null array → null. */
case class RootSpan(child: Expression) extends UnaryExpression {
  import SpanKernels._

  override def checkInputDataTypes(): TypeCheckResult = check(
    elementStruct(child.dataType).exists(s => ordinal(s, "references")
      .exists(s(_).dataType.isInstanceOf[ArrayType])),
    prettyName, "array<struct<references:array<…>>>", child.dataType)

  @transient private lazy val span = elementStruct(child.dataType).get

  override def dataType: DataType = span

  override def nullable: Boolean = true

  override def prettyName: String = "graft_root_span"

  override def nullSafeEval(input: Any): Any = rootSpan(
    input.asInstanceOf[ArrayData], span.length, span.fieldIndex("references"))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"""${ev.value} = $Self.rootSpan($c, ${span.length},
         |  ${span.fieldIndex("references")});
         |${ev.isNull} = ${ev.value} == null;""".stripMargin)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `spans: array<struct<tags:array<struct<key:string, …>>, …>>` → the
  * `error` tag count, 0 for a null array ([[SpanKernels.errTagCount]]). */
case class ErrTagCount(child: Expression) extends UnaryExpression {
  import SpanKernels._

  @transient private lazy val span = elementStruct(child.dataType)

  @transient private lazy val tag: Option[StructType] =
    span.flatMap(s => ordinal(s, "tags").flatMap(i => elementStruct(s(i).dataType)))

  override def checkInputDataTypes(): TypeCheckResult = check(
    tag.exists(hasStrings(_, "key")), prettyName,
    "array<struct<tags:array<struct<key:string>>>>", child.dataType)

  override def dataType: DataType = IntegerType

  override def nullable: Boolean = false

  override def prettyName: String = "graft_err_tag_count"

  private def args = s"${span.get.length}, ${span.get.fieldIndex("tags")}, " +
    s"${tag.get.length}, ${tag.get.fieldIndex("key")}"

  override def eval(input: InternalRow): Any = errTagCount(
    child.eval(input).asInstanceOf[ArrayData], span.get.length,
    span.get.fieldIndex("tags"), tag.get.length, tag.get.fieldIndex("key"))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      |${c.code}
      |int ${ev.value} = $Self.errTagCount(${c.isNull} ? null : ${c.value}, $args);
      |""".stripMargin, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
