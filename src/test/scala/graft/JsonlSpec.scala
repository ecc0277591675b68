package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Scc
import graft.plans.{Jsonl, Superstep}
import graft.sources.TableCatalog
import graft.sources.TableCatalog.{ColBounds, Field, ManifestEntry, TableSchema}

/** The one manifest reader, fed lines exactly as the writers emit them:
  * every manifest written so far must read back to the same values, and a
  * torn prefix of any line (what a killed writer leaves) must not read.
  */
class JsonlSpec extends AnyFunSuite {

  /** `line` decodes to `want`, and no proper prefix of it decodes. */
  private def reads[A](line: String, want: A)(decode: Jsonl.Obj => A): Unit = {
    assert(Jsonl.read(line)(decode) == Some(want), line)
    for (k <- 1 until line.length)
      assert(Jsonl.read(line.take(k))(decode).isEmpty, s"torn prefix read: ${line.take(k)}")
  }

  test("superstep manifest lines, with and without a snapshot") {
    reads("""{"name":"pagerank","iter":10,"changed":42,"wallMs":7,"snapshot":"/d/pagerank.state_10"}""",
      Option(("/d/pagerank.state_10", 10)))(Superstep.snapshotOf)
    reads("""{"name":"wcc","iter":3,"changed":5,"wallMs":12,"snapshot":null}""",
      Option.empty[(String, Int)])(Superstep.snapshotOf)
  }

  test("SCC round manifest lines, with empty and non-empty parts") {
    reads("""{"round":0,"liveCount":80,"parts":[],"live":"/d/scc.live_0"}""",
      (0, 80L, Seq.empty[Int], "/d/scc.live_0"))(Scc.roundOf)
    reads("""{"round":3,"liveCount":12345678901,"parts":[0,2,5],"live":"/d/scc.live_3"}""",
      (3, 12345678901L, Seq(0, 2, 5), "/d/scc.live_3"))(Scc.roundOf)
  }

  test("catalog header and entry lines: sid, stats with null and quoted bounds, escapes") {
    reads("""{"currentSchemaId":1,"schemas":[""" +
      """{"id":0,"fields":[{"fid":1,"name":"fileId","type":"bigint"},{"fid":2,"name":"repo","type":"string"}]},""" +
      """{"id":1,"fields":[{"fid":1,"name":"fileId","type":"bigint"},{"fid":3,"name":"stars","type":"bigint"}]}]}""",
      (Seq(
        TableSchema(0, Seq(Field(1, "fileId", "bigint"), Field(2, "repo", "string"))),
        TableSchema(1, Seq(Field(1, "fileId", "bigint"), Field(3, "stars", "bigint")))), 1))(
      TableCatalog.headerOf)
    reads("""{"path":"/t/data/w-1/lang=go/part-0.parquet","lang":"go","sid":1,"stats":[""" +
      """{"col":"fileId","type":"long","lo":"3","hi":"99"},""" +
      """{"col":"repo","type":"string","lo":"a\"b\\c","hi":null}]}""",
      ManifestEntry("/t/data/w-1/lang=go/part-0.parquet", "go", Map(
        "fileId" -> ColBounds(Some("3"), Some("99"), isLong = true),
        "repo" -> ColBounds(Some("a\"b\\c"), None, isLong = false)), 1))(TableCatalog.entryOf)
    // a legacy entry: no sid, no stats
    reads("""{"path":"/t/x.parquet","lang":"go"}""",
      ManifestEntry("/t/x.parquet", "go"))(TableCatalog.entryOf)
    // jstr output for a path and lang holding a quote, a backslash and a
    // control character
    val path = "/t/a\"b\\c\u0001d.parquet"
    val lang = "q\"\\\u001f"
    val line = s"""{"path":${Jsonl.jstr(path)},"lang":${Jsonl.jstr(lang)}}"""
    assert(line == "{\"path\":\"/t/a\\\"b\\\\c\\u0001d.parquet\",\"lang\":\"q\\\"\\\\\\u001f\"}")
    reads(line, ManifestEntry(path, lang))(TableCatalog.entryOf)
  }

  test("a missing key, a wrong type or trailing text makes a line unparseable") {
    assert(Jsonl.read("""{"round":0,"liveCount":1,"parts":[]}""")(Scc.roundOf).isEmpty)
    assert(Jsonl.read("""{"round":"0","liveCount":1,"parts":[],"live":"/d"}""")(Scc.roundOf).isEmpty)
    assert(Jsonl.read("""{"name":"t","iter":1,"snapshot":null} x""")(Superstep.snapshotOf).isEmpty)
    assert(Jsonl.read("""{"path":"/p","lang":"go","stats":[{"col":"c","type":"double","lo":null,""" +
      """"hi":null}]}""")(TableCatalog.entryOf).isEmpty)
    // an entry line is not a header: a manifest without one is legacy
    assert(Jsonl.read("""{"path":"/p","lang":"go"}""")(TableCatalog.headerOf).isEmpty)
  }
}
