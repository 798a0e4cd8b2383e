package graft.io

/** The local Postgres server the test suites share. Its data directory
  * persists across test runs, so a stage table a killed or failed
  * earlier process left behind would fail this run's "no stage tables
  * survive" checks; the first connection of each test JVM drops those
  * orphans (and names them), before this process stages anything. */
object TestPg {
  lazy val conn: Postgres.PgConn = {
    val c = Postgres.ensureLocalServer("/tmp/graft_test/pgserver")
    val pc = new PgWireClient(c.host, c.port, c.user, c.database)
    try Postgres.listStagesOf(pc, "graft_stage_").foreach { s =>
      println(s"[TestPg] dropping stage table left by an earlier process: $s")
      pc.exec(s"DROP TABLE IF EXISTS ${PgWire.quoteIdent(s)}")
    } finally pc.close()
    c
  }
}
