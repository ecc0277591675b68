package graft.plans

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._
import scala.util.control.NoStackTrace

import com.fasterxml.jackson.core.JsonProcessingException
import com.fasterxml.jackson.databind.{DeserializationFeature, JsonNode, ObjectMapper}

/** The one JSON writer escape and the one reader every manifest shares
  * (superstep manifests, SCC round manifests, the table catalog). Writers
  * build their lines with [[jstr]]; readers decode a line through [[read]],
  * which parses it with Jackson's tree model, so an escaping or grammar bug
  * fixed here can't live on in a second copy.
  */
object Jsonl {

  /** Escape + quote: caller-supplied names/paths may carry quotes,
    * backslashes or control characters that would corrupt a manifest line.
    */
  def jstr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  private val mapper = new ObjectMapper().enable(DeserializationFeature.FAIL_ON_TRAILING_TOKENS)

  private final class Unparseable extends RuntimeException with NoStackTrace

  private def need(v: JsonNode, ok: JsonNode => Boolean): JsonNode =
    if (v != null && ok(v)) v else throw new Unparseable

  private val isInt: JsonNode => Boolean = v => v.isIntegralNumber && v.canConvertToInt

  /** One JSON object of a manifest line. Each read names the key it needs:
    * a missing key, or a value of another type, makes the line unparseable.
    */
  final class Obj private[Jsonl] (node: JsonNode) {
    def has(k: String): Boolean = node.has(k)
    def int(k: String): Int = need(node.get(k), isInt).intValue
    def long(k: String): Long =
      need(node.get(k), v => v.isIntegralNumber && v.canConvertToLong).longValue
    /** A string, one of `oneOf` when that is given. */
    def str(k: String, oneOf: String*): String =
      need(node.get(k), v => v.isTextual && (oneOf.isEmpty || oneOf.contains(v.textValue))).textValue
    def strOrNull(k: String): Option[String] =
      Option(need(node.get(k), v => v.isTextual || v.isNull).textValue)
    def ints(k: String): Seq[Int] = elems(k).map(need(_, isInt).intValue)
    def objs(k: String): Seq[Obj] = elems(k).map(v => new Obj(need(v, _.isObject)))
    private def elems(k: String) = need(node.get(k), _.isArray).elements.asScala.toSeq
  }

  /** `decode` applied to `line`, or None when the line is not one JSON
    * object (a torn line, trailing text) or lacks a key `decode` reads. */
  def read[A](line: String)(decode: Obj => A): Option[A] =
    try {
      val node = mapper.readTree(line)
      if (node != null && node.isObject) Some(decode(new Obj(node))) else None
    } catch { case _: JsonProcessingException | _: Unparseable => None }

  /** The records of the single-writer JSONL log `p` (none when it does not
    * exist), decoded by `decode`. Blank lines are skipped. If (only) the
    * FINAL line is unparseable, it is the torn tail a killed writer leaves:
    * it is truncated off the file (WAL-style repair, so later appends leave
    * a clean log) and the rest is read. Any other unparseable line throws
    * IllegalStateException naming `what`: a silent skip would resume from
    * an older record and redo work against state the newer ones already
    * changed durably.
    */
  def readLog[A](p: Path, what: String)(decode: Obj => A): Seq[A] = {
    if (!Files.exists(p)) return Nil
    val prefix = p.getFileName.toString + ".repair-"
    // a repair killed between write and move leaves its temp file behind
    scala.util.Using.resource(Files.list(p.toAbsolutePath.getParent)) {
      _.iterator().asScala.filter(_.getFileName.toString.startsWith(prefix))
        .foreach(Files.deleteIfExists)
    }
    def parses(l: String) = l.isBlank || read(l)(decode).isDefined
    val all = Files.readAllLines(p).asScala.toSeq
    val lines = if (all.isEmpty || parses(all.last) || !all.init.forall(parses)) all else {
      graft.Log.v(s"resume: truncating torn final manifest line in $p")
      // write-to-tmp + atomic rename: a process crash mid-repair never
      // loses the previously committed lines (an in-place truncate-then-
      // write can). No fsync, so this is not power-loss durable.
      val tmp = p.resolveSibling(prefix + java.util.UUID.randomUUID())
      try {
        Files.write(tmp, all.init.mkString("", "\n", if (all.init.isEmpty) "" else "\n")
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
        Files.move(tmp, p,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      } finally Files.deleteIfExists(tmp)
      all.init
    }
    lines.filterNot(_.isBlank).map(l => read(l)(decode).getOrElse(throw new IllegalStateException(
      s"unparseable $what line in $p: $l (corrupt, or written by an incompatible engine " +
        "version — delete the snapshot directory to restart from scratch)")))
  }
}
