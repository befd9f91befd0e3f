package graft.normalize

import java.io.{ByteArrayOutputStream, IOException}

import com.fasterxml.jackson.core.{JsonEncoding, JsonFactory, JsonFactoryBuilder, JsonGenerator, JsonParser, JsonToken}
import com.fasterxml.jackson.core.json.JsonReadFeature
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, Generator, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral, JavaCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.json.GetJsonObjectEvaluator
import org.apache.spark.sql.types.{DataType, StringType, StructField, StructType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Single-pass payload extraction: tokenizes a JSON document ONCE and
  * answers a set of groups, each the first non-null of its candidate
  * paths (`a` or `a.b`). Every path's value is exactly what
  * `get_json_object(json, '$.<path>')` returns:
  *   - a string value comes back raw (unquoted); any other value is
  *     rendered through Jackson's `copyCurrentStructure`;
  *   - a JSON `null` is missing, so a later duplicate key can still match,
  *     and otherwise the first duplicate key that yields a value wins;
  *   - a parse error, or a top-level value that is not an object, gives
  *     null for every path; trailing bytes after the top-level object are
  *     never read.
  *
  * The one pass reads the UTF-8 bytes in place — no `InputStreamReader`,
  * no per-call char decoder — and walks a trie of the requested paths, so
  * a field no path names is skipped by Jackson's `skipChildren`. A value
  * that is both a result (path `order`) and a container to descend into
  * (path `order.id`) is rendered token by token while the walk continues
  * inside it, so it is still read once.
  *
  * Inputs the byte pass cannot read exactly as `get_json_object`'s
  * `Reader` does go to Spark's own evaluator, one path at a time: bytes
  * that are not well-formed UTF-8 (the reader decodes them to U+FFFD), a
  * document that does not open with `{` (leading whitespace, a BOM, a
  * scalar), and any document the pass fails on (a parse error, a lone
  * surrogate the raw writer rejects). Those rows pay N parses as before;
  * every other row pays one.
  */
final class PayloadKernel(groups: Seq[Seq[String]]) {
  import PayloadKernel._

  private val paths: Array[String] = groups.flatten.distinct.toArray
  private val groupIds: Array[Array[Int]] =
    groups.map(_.map(p => paths.indexOf(p)).toArray).toArray
  private val root: Node = Node.of(paths)
  private val hits = new Array[UTF8String](paths.length)
  // the results of every open container value, innermost last: each token
  // the walk reads while one is open is copied into all of them
  private val sinks = new java.util.ArrayList[JsonGenerator](2)
  private val scratch = new ByteArrayOutputStream(64)
  private lazy val reference: Array[GetJsonObjectEvaluator] =
    paths.map(p => new GetJsonObjectEvaluator(UTF8String.fromString("$." + p)))

  /** One value per group: the first non-null of its paths. */
  def fields(json: UTF8String): Array[Any] = {
    extract(json)
    val out = new Array[Any](groupIds.length)
    var g = 0
    while (g < groupIds.length) {
      out(g) = firstHit(groupIds(g))
      g += 1
    }
    out
  }

  /** The first group's value. */
  def first(json: UTF8String): UTF8String = {
    extract(json)
    firstHit(groupIds(0))
  }

  private def firstHit(ids: Array[Int]): UTF8String = {
    var i = 0
    while (i < ids.length) {
      val v = hits(ids(i))
      if (v ne null) return v
      i += 1
    }
    null
  }

  private def extract(json: UTF8String): Unit = {
    java.util.Arrays.fill(hits.asInstanceOf[Array[AnyRef]], null)
    if (json eq null) return
    val len = json.numBytes
    val base = json.getBaseObject
    val bytes = base match {
      case a: Array[Byte] => a
      case _ => json.getBytes
    }
    val off =
      if (bytes eq base) (json.getBaseOffset - Platform.BYTE_ARRAY_OFFSET).toInt else 0
    // '{' then a non-zero byte: Jackson's byte bootstrapper then picks
    // UTF-8 with no BOM to skip, as the reference's Reader does
    val direct = len >= 2 && bytes(off) == '{' && bytes(off + 1) != 0 &&
      wellFormedUtf8(bytes, off, len)
    if (!direct || !singlePass(bytes, off, len)) {
      var i = 0
      while (i < paths.length) {
        val ev = reference(i)
        ev.setJson(json)
        hits(i) = ev.evaluate().asInstanceOf[UTF8String]
        i += 1
      }
    }
  }

  /** The byte pass; false (and no hits) when it hit anything the
    * reference must decide.
    */
  private def singlePass(bytes: Array[Byte], off: Int, len: Int): Boolean = {
    val p = Factory.createParser(bytes, off, len)
    try {
      p.nextToken()
      walkFields(p, root)
      true
    } catch {
      case _: IOException =>
        java.util.Arrays.fill(hits.asInstanceOf[Array[AnyRef]], null)
        false
    } finally {
      sinks.clear()
      p.close()
    }
  }

  /** Walks the fields of the object whose START_OBJECT is the current
    * token, through its END_OBJECT.
    */
  private def walkFields(p: JsonParser, node: Node): Unit = {
    var t = p.nextToken()
    while (t ne JsonToken.END_OBJECT) {
      if (t ne JsonToken.FIELD_NAME) throw new IOException("truncated object")
      tee(p)
      val kid = node.kids.get(p.currentName())
      val v = p.nextToken()
      if ((kid eq null) || (v eq JsonToken.VALUE_NULL)) pass(p)
      else visit(p, v, kid)
      t = p.nextToken()
    }
    tee(p)
  }

  /** The non-null value `v` of a field some path names. */
  private def visit(p: JsonParser, v: JsonToken, kid: Node): Unit = {
    val id = kid.leaf
    val want = id >= 0 && (hits(id) eq null)
    if (v eq JsonToken.VALUE_STRING) {
      if (want) hits(id) = rawText(p)
      tee(p)
    } else if (v.isScalarValue) {
      if (want) hits(id) = render(p)
      tee(p)
    } else {
      val descend = (v eq JsonToken.START_OBJECT) && !kid.kids.isEmpty
      if (!want && !descend) pass(p)
      else {
        val buf = if (want) new ByteArrayOutputStream(64) else null
        if (want) sinks.add(Factory.createGenerator(buf, JsonEncoding.UTF8))
        if (descend) {
          tee(p)
          walkFields(p, kid)
        } else teeValue(p)
        if (want) {
          sinks.remove(sinks.size - 1).close()
          hits(id) = UTF8String.fromBytes(buf.toByteArray)
        }
      }
    }
  }

  /** Consumes the current value, copying it into the open results. */
  private def pass(p: JsonParser): Unit =
    if (sinks.isEmpty) p.skipChildren() else teeValue(p)

  private def teeValue(p: JsonParser): Unit = {
    tee(p)
    if (p.currentToken.isStructStart) {
      var depth = 1
      while (depth > 0) {
        val t = p.nextToken()
        if (t eq null) throw new IOException("truncated value")
        tee(p)
        if (t.isStructStart) depth += 1
        else if (t.isStructEnd) depth -= 1
      }
    }
  }

  private def tee(p: JsonParser): Unit = {
    var i = 0
    while (i < sinks.size) {
      sinks.get(i).copyCurrentEvent(p)
      i += 1
    }
  }

  /** A string value as `get_json_object` writes it: its characters,
    * UTF-8 encoded, no quotes. Text holding a surrogate goes through the
    * same raw writer, which rejects a lone one.
    */
  private def rawText(p: JsonParser): UTF8String = {
    val s = p.getText
    var i = 0
    while (i < s.length) {
      if (Character.isSurrogate(s.charAt(i))) return writeWith(_.writeRaw(s))
      i += 1
    }
    UTF8String.fromString(s)
  }

  /** A number or boolean, as `copyCurrentStructure` writes it. */
  private def render(p: JsonParser): UTF8String =
    writeWith(_.copyCurrentStructure(p))

  private def writeWith(write: JsonGenerator => Unit): UTF8String = {
    scratch.reset()
    val g = Factory.createGenerator(scratch, JsonEncoding.UTF8)
    try write(g) finally g.close()
    UTF8String.fromBytes(scratch.toByteArray)
  }
}

object PayloadKernel {
  /** `get_json_object`'s parser features (Spark's `SharedFactory`). */
  private val Factory: JsonFactory = new JsonFactoryBuilder()
    .enable(JsonReadFeature.ALLOW_UNESCAPED_CONTROL_CHARS)
    .enable(JsonReadFeature.ALLOW_SINGLE_QUOTES)
    .build()

  private val PathPattern = "[A-Za-z0-9_]+(\\.[A-Za-z0-9_]+)*"

  /** Refuses, when the plan is built, a group set the kernel cannot read:
    * an empty group, or a path that is not `name(.name)*`.
    */
  private[normalize] def checkPaths(groups: Seq[Seq[String]]): Unit = {
    require(groups.nonEmpty && groups.forall(_.nonEmpty), "empty path group")
    groups.flatten.foreach(p => require(p.matches(PathPattern),
      s"json path '$p' is not a dotted name"))
  }

  /** A trie over the path segments; `leaf` is the id of the path that
    * ends here, or -1.
    */
  private final class Node {
    var leaf: Int = -1
    val kids = new java.util.HashMap[String, Node](4)
  }

  private object Node {
    def of(paths: Array[String]): Node = {
      val root = new Node
      paths.indices.foreach { i =>
        val end = paths(i).split('.').foldLeft(root)((n, seg) =>
          n.kids.computeIfAbsent(seg, _ => new Node))
        end.leaf = i
      }
      root
    }
  }

  /** Well-formed UTF-8 (Unicode Table 3-7): what Java's decoder reads
    * without substituting U+FFFD.
    */
  private[normalize] def wellFormedUtf8(b: Array[Byte], off: Int, len: Int): Boolean = {
    def cont(i: Int, lo: Int, hi: Int): Boolean = {
      val u = b(i) & 0xff
      u >= lo && u <= hi
    }
    val end = off + len
    var i = off
    while (i < end) {
      val u = b(i) & 0xff
      if (u < 0x80) i += 1
      else if (u >= 0xc2 && u <= 0xdf) {
        if (i + 1 >= end || !cont(i + 1, 0x80, 0xbf)) return false
        i += 2
      } else if (u >= 0xe0 && u <= 0xef) {
        val lo = if (u == 0xe0) 0xa0 else 0x80
        val hi = if (u == 0xed) 0x9f else 0xbf
        if (i + 2 >= end || !cont(i + 1, lo, hi) || !cont(i + 2, 0x80, 0xbf)) return false
        i += 3
      } else if (u >= 0xf0 && u <= 0xf4) {
        val lo = if (u == 0xf0) 0x90 else 0x80
        val hi = if (u == 0xf4) 0x8f else 0xbf
        if (i + 3 >= end || !cont(i + 1, lo, hi) || !cont(i + 2, 0x80, 0xbf) ||
            !cont(i + 3, 0x80, 0xbf)) return false
        i += 4
      } else return false
    }
    true
  }

  private[normalize] def checkString(e: Expression, name: String): TypeCheckResult =
    if (e.dataType.isInstanceOf[StringType]) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$name expects a string, got ${e.dataType.simpleString}")
}

/** Generator form of [[PayloadKernel]]: one output row per input row,
  * one string column per group. A generator so that a filter on its
  * output cannot be pushed below it and re-evaluate the kernel: Spark's
  * `PushPredicateThroughNonJoin` moves only predicates over a `Generate`'s
  * child columns, as for `json_tuple`.
  */
case class JsonFields(child: Expression, groups: Seq[Seq[String]])
    extends UnaryExpression with Generator {
  PayloadKernel.checkPaths(groups)

  @transient private lazy val kernel = new PayloadKernel(groups)

  override def checkInputDataTypes(): TypeCheckResult =
    PayloadKernel.checkString(child, prettyName)
  override def prettyName: String = "json_fields"
  override def elementSchema: StructType =
    StructType(groups.indices.map(i => StructField(s"c$i", StringType)))

  override def eval(input: InternalRow): IterableOnce[InternalRow] =
    rowsOf(child.eval(input).asInstanceOf[UTF8String])

  def rowsOf(json: UTF8String): Iterable[InternalRow] =
    new GenericInternalRow(kernel.fields(json)) :: Nil

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("jsonFields", this)
    val in = child.genCode(ctx)
    val rows = ctx.freshName("rows")
    ev.copy(
      code = code"""
        |${in.code}
        |scala.collection.Iterable $rows =
        |  $ref.rowsOf(${in.isNull} ? null : ${in.value});
        """.stripMargin,
      isNull = FalseLiteral,
      value = JavaCode.variable(rows, classOf[scala.collection.Iterable[_]]))
  }

  override protected def withNewChildInternal(newChild: Expression): JsonFields =
    copy(child = newChild)
}

/** Scalar form of [[PayloadKernel]] for one group: the first non-null of
  * `paths`, as `coalesce(get_json_object(json, '$.p1'), …)` returns it.
  */
case class JsonCoalesce(child: Expression, paths: Seq[String]) extends UnaryExpression {
  PayloadKernel.checkPaths(Seq(paths))

  @transient private lazy val kernel = new PayloadKernel(Seq(paths))

  override def checkInputDataTypes(): TypeCheckResult =
    PayloadKernel.checkString(child, prettyName)
  override def prettyName: String = "json_coalesce"
  override def dataType: DataType = StringType
  override def nullable: Boolean = true

  override protected def nullSafeEval(json: Any): Any =
    first(json.asInstanceOf[UTF8String])

  def first(json: UTF8String): UTF8String = kernel.first(json)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("jsonCoalesce", this)
    val in = child.genCode(ctx)
    ev.copy(code = code"""
      |${in.code}
      |UTF8String ${ev.value} = ${in.isNull} ? null : $ref.first(${in.value});
      |boolean ${ev.isNull} = ${ev.value} == null;
      """.stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): JsonCoalesce =
    copy(child = newChild)
}
