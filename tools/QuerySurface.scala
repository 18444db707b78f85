/** Generates QUERIES.md — the one-line-per-query audit index of the
  * driver surface — from `SparkEntry` itself (never written by hand, so
  * it cannot drift from the code): query name → family → verification
  * mode. Modes:
  *
  *   - `hashed`   — the query has its own DuckDB oracle SQL; the driver
  *                  checks rows + schema + value hash.
  *   - `twin:<q>` — no oracle on this exact query (engine-specific
  *                  hashes / fitted models in its default form), but a
  *                  `<name>_oracled` twin runs the same production code
  *                  path with portable parameters and IS hashed.
  *   - `spec`     — no SQL-expressible oracle exists (sketch binaries);
  *                  pinned by the ScalaTest suite instead.
  *
  * Run with `sbt "runMain QuerySurface"`; writes QUERIES.md
  * in the CWD. Exits nonzero if any query ends up `spec` without being
  * a known sketch-family exception — the guard that keeps the surface
  * auditable as it grows.
  */
object QuerySurface {
  def main(args: Array[String]): Unit = {
    val qs = graft.SparkEntry.queries.keySet
    val os = graft.SparkEntry.oracleSql.keySet
    // queries whose lack of BOTH an oracle and a twin is by design —
    // must stay empty or name sketch-binary cases only
    val specOk = Set.empty[String]
    val rows = qs.toSeq.sorted.map { name =>
      val family = name.takeWhile(_ != '_') match {
        case q if q.matches("q\\d+") => "sql-core"
        case f => f
      }
      val mode =
        if (os.contains(name)) "hashed"
        else if (qs.contains(s"${name}_oracled")) s"twin:${name}_oracled"
        else "spec"
      (name, family, mode)
    }
    val bad = rows.collect { case (n, _, "spec") if !specOk(n) => n }
    val table = rows.map { case (n, f, m) => s"| `$n` | $f | $m |" }
    val hashed = rows.count(_._3 == "hashed")
    val twins = rows.count(_._3.startsWith("twin:"))
    val doc =
      s"""# Query surface (generated — do not edit)
         |
         |Generated by `tools/QuerySurface.scala` from `SparkEntry`;
         |regenerate after adding a query. ${rows.size} queries:
         |$hashed hashed, $twins perf-default twins covered by an
         |`_oracled` counterpart, ${rows.size - hashed - twins} spec-only.
         |
         || query | family | verification |
         ||---|---|---|
         |${table.mkString("\n")}
         |""".stripMargin
    java.nio.file.Files.write(
      java.nio.file.Paths.get("QUERIES.md"), doc.getBytes("UTF-8"))
    println(s"[query-surface] ${rows.size} queries, $hashed hashed, " +
      s"$twins twins, ${bad.size} unexplained spec-only")
    if (bad.nonEmpty) {
      System.err.println(s"[query-surface] FAIL unexplained spec-only: ${bad.mkString(", ")}")
      sys.exit(1)
    }
  }
}
