package graft

import graft.publish.Publisher
import java.nio.file.{Files, Paths}

/** The publishing step (reference: Datasette over SQLite): the dump must
  * be a loadable SQLite script covering every catalog table, and the
  * metadata must carry all 19 canned queries. (The full round-trip —
  * `sqlite3 db < dump.sql` then running all 19 queries — is verified
  * against a real SQLite in dev; this spec pins the dump's structure and
  * escaping, which is what the JVM side owns.) */
class PublishSpec extends SparkSpecBase {

  private lazy val outDir = {
    val dir = Files.createTempDirectory("graft_publish").toString
    val counts = Publisher.publish(spark, sf, dir)
    (dir, counts)
  }

  test("dump covers every catalog table with matching row counts") {
    val (dir, counts) = outDir
    val dump = Files.readString(Paths.get(s"$dir/dump.sql"))
    val expected = graft.queries.DeclaredCatalog.catalogTables(spark, sf)
    assert(counts.keySet === expected.keySet)
    counts.foreach { case (name, n) =>
      assert(dump.contains(s"""CREATE TABLE "$name""""), name)
      assert(n === expected(name).count(), s"$name row count")
    }
    // single transaction: one atomic load
    assert(dump.startsWith("BEGIN TRANSACTION;"))
    assert(dump.trim.endsWith("COMMIT;"))
  }

  test("dump escapes SQLite syntax: quote-doubling, NULL, ISO dates") {
    val (dir, _) = outDir
    val dump = Files.readString(Paths.get(s"$dir/dump.sql"))
    // dates must publish as quoted ISO text, not epoch numbers
    assert("""'\d{4}-\d{2}-\d{2}'""".r.findFirstIn(dump).isDefined,
      "expected ISO date literals in the dump")
    // no raw unescaped single quote can survive inside a literal: every
    // statement must keep balanced quotes line by line
    val bad = dump.linesIterator.zipWithIndex.filter { case (l, _) =>
      l.count(_ == '\'') % 2 == 1
    }.take(3).toList
    assert(bad.isEmpty, s"unbalanced quotes: $bad")
  }

  test("metadata carries all 19 canned queries verbatim") {
    val (dir, _) = outDir
    val meta = Files.readString(Paths.get(s"$dir/metadata.json"))
    graft.queries.DeclaredCatalog.sql.keys.foreach(name =>
      assert(meta.contains("\"" + name + "\""), name))
    // verbatim: a distinctive fragment of a canned query survives escaping
    assert(meta.contains("falling_down_stairs_summary_stocks"))
  }
}
