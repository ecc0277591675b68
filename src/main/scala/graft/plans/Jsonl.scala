package graft.plans

/** Minimal JSON string escape/unescape shared by every manifest writer
  * (superstep manifests, SCC round manifests, the table catalog). One
  * implementation, one set of escaping rules: an escaping bug fixed here
  * can't silently live on in a second copy and corrupt a different
  * manifest family's resume path.
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

  /** Crash-mid-append recovery for a JSONL manifest: if (only) the FINAL
    * line fails `parses`, it is the torn tail a killed writer leaves —
    * truncate it off the file (WAL-style repair, so later appends leave a
    * clean manifest instead of a permanently-unparseable mid-file line)
    * and return the surviving lines. Every other parse failure is left for
    * the caller to fail loudly on. Single-writer manifests only.
    */
  def repairTornTail(
      p: java.nio.file.Path, parses: String => Boolean): Seq[String] = {
    import scala.jdk.CollectionConverters._
    val prefix = p.getFileName.toString + ".repair-"
    // a repair killed between write and move leaves its temp file behind
    scala.util.Using.resource(java.nio.file.Files.list(p.toAbsolutePath.getParent)) {
      _.iterator().asScala.filter(_.getFileName.toString.startsWith(prefix))
        .foreach(java.nio.file.Files.deleteIfExists)
    }
    val lines = java.nio.file.Files.readAllLines(p).asScala.toSeq
    if (lines.nonEmpty && !parses(lines.last) && lines.init.forall(parses)) {
      graft.Log.v(s"resume: truncating torn final manifest line in $p")
      // write-to-tmp + atomic rename: a process crash mid-repair never
      // loses the previously committed lines (an in-place truncate-then-
      // write can). No fsync, so this is not power-loss durable.
      val tmp = p.resolveSibling(prefix + java.util.UUID.randomUUID())
      try {
        java.nio.file.Files.write(tmp,
          lines.init.mkString("", "\n", if (lines.init.isEmpty) "" else "\n")
            .getBytes(java.nio.charset.StandardCharsets.UTF_8))
        java.nio.file.Files.move(tmp, p,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      } finally java.nio.file.Files.deleteIfExists(tmp)
      lines.init
    } else lines
  }

  /** Inverse of [[jstr]] for an already-unquoted body. */
  def junstr(s: String): String = {
    val out = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      if (s(i) == '\\' && i + 1 < s.length) s(i + 1) match {
        case 'u' => out += Integer.parseInt(s.substring(i + 2, i + 6), 16).toChar; i += 6
        case c => out += c; i += 2
      } else { out += s(i); i += 1 }
    }
    out.toString
  }
}
