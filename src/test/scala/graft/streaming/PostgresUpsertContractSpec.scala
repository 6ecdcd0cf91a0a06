package graft.streaming

import graft.SparkSpec
import java.util.Properties

/** The reference's metrics sink upserts into Postgres
  * (metrics_sink.py:30-41, init_metrics.sql). No PG-wire database or
  * driver jar exists in this environment, so the literal
  * INSERT ... ON CONFLICT text is pinned by unit test
  * (ProcessorsSpec) — but the WRITER itself is not left untested:
  * the portable UpdateThenInsert dialect runs the identical
  * executor-side loop (connection per partition, last-refinement-wins
  * or firstWriteWins) live against embedded Derby here, across
  * simulated micro-batches. Plus a jar-inventory tripwire that demands
  * the live ON CONFLICT round-trip the moment a PG-compatible driver
  * appears on the classpath. */
class PostgresUpsertContractSpec extends SparkSpec {
  import spark.implicits._

  System.setProperty("derby.system.home",
    java.nio.file.Files.createTempDirectory("graft-derby-upsert").toString)
  private val url = "jdbc:derby:memory:upsertdb;create=true"
  private val props = new Properties()

  private def withTable[A](name: String)(f: => A): A = {
    val conn = java.sql.DriverManager.getConnection(url, props)
    try {
      conn.createStatement().execute(
        s"CREATE TABLE $name (k1 INT NOT NULL, k2 INT NOT NULL, " +
          "v DOUBLE, n BIGINT, PRIMARY KEY (k1, k2))")
    } finally conn.close()
    f
  }

  private def readAll(name: String): Map[(Int, Int), (Double, Long)] = {
    val conn = java.sql.DriverManager.getConnection(url, props)
    try {
      val rs = conn.createStatement()
        .executeQuery(s"SELECT k1, k2, v, n FROM $name")
      val b = Map.newBuilder[(Int, Int), (Double, Long)]
      while (rs.next())
        b += ((rs.getInt(1), rs.getInt(2)) -> ((rs.getDouble(3), rs.getLong(4))))
      b.result()
    } finally conn.close()
  }

  test("UpdateThenInsert dialect: last refinement wins across micro-batches") {
    withTable("m_upsert") {
      val write = MetricsSink.jdbcUpsertWriter(url, "m_upsert",
        Seq("k1", "k2"), props,
        dialect = MetricsSink.UpsertDialect.UpdateThenInsert)
      // micro-batch 1: two windows' partial aggregates
      write(Seq((1, 0, 10.0, 2L), (2, 0, 5.0, 1L)).toDF("k1", "k2", "v", "n"), 0L)
      // micro-batch 2: window 1 refined (update mode re-emission),
      // window 3 new
      write(Seq((1, 0, 17.5, 4L), (3, 0, 1.0, 1L)).toDF("k1", "k2", "v", "n"), 1L)
      assert(readAll("m_upsert") == Map(
        (1, 0) -> ((17.5, 4L)),
        (2, 0) -> ((5.0, 1L)),
        (3, 0) -> ((1.0, 1L))))
    }
  }

  test("UpdateThenInsert dialect: firstWriteWins drops duplicate keys") {
    withTable("m_first") {
      val write = MetricsSink.jdbcUpsertWriter(url, "m_first",
        Seq("k1", "k2"), props, firstWriteWins = true,
        dialect = MetricsSink.UpsertDialect.UpdateThenInsert)
      write(Seq((1, 0, 10.0, 2L)).toDF("k1", "k2", "v", "n"), 0L)
      // the refinement must be silently dropped (metrics_sink.py:38-39)
      write(Seq((1, 0, 99.0, 9L), (2, 0, 5.0, 1L)).toDF("k1", "k2", "v", "n"), 1L)
      assert(readAll("m_first") == Map(
        (1, 0) -> ((10.0, 2L)),
        (2, 0) -> ((5.0, 1L))))
    }
  }

  test("UpdateThenInsert dialect: key-only table degenerates to insert-if-absent") {
    // zero non-key columns: nothing to refine, so upsert ≡ ON CONFLICT
    // DO NOTHING — new keys insert, duplicates are dropped silently
    val conn = java.sql.DriverManager.getConnection(url, props)
    try conn.createStatement().execute(
      "CREATE TABLE m_keys (k1 INT NOT NULL, k2 INT NOT NULL, PRIMARY KEY (k1, k2))")
    finally conn.close()
    val write = MetricsSink.jdbcUpsertWriter(url, "m_keys",
      Seq("k1", "k2"), props,
      dialect = MetricsSink.UpsertDialect.UpdateThenInsert)
    write(Seq((1, 0), (2, 0)).toDF("k1", "k2"), 0L)
    write(Seq((2, 0), (3, 0)).toDF("k1", "k2"), 1L)
    val c = java.sql.DriverManager.getConnection(url, props)
    try {
      val rs = c.createStatement().executeQuery(
        "SELECT k1 FROM m_keys ORDER BY k1")
      val got = Iterator.continually(rs)
        .takeWhile(_.next()).map(_.getInt(1)).toList
      assert(got == List(1, 2, 3))
    } finally c.close()
  }

  test("dialects build from the same column/key lists") {
    // the Postgres text is the one init_metrics.sql expects; the
    // portable pair must address the same columns in the same roles
    val cols = Seq("window_start", "window_end", "gmv")
    val keys = Seq("window_start", "window_end")
    assert(MetricsSink.upsertSql("gmv_metrics", cols, keys) ==
      "INSERT INTO gmv_metrics (window_start, window_end, gmv) " +
        "VALUES (?, ?, ?) " +
        "ON CONFLICT (window_start, window_end) DO UPDATE SET " +
        "gmv = EXCLUDED.gmv")
    assert(MetricsSink.insertSql("gmv_metrics", cols) ==
      "INSERT INTO gmv_metrics (window_start, window_end, gmv) " +
        "VALUES (?, ?, ?)")
    assert(MetricsSink.updateSql("gmv_metrics", cols, keys) ==
      "UPDATE gmv_metrics SET gmv = ? " +
        "WHERE window_start = ? AND window_end = ?")
    // a key-only table has nothing to refine: insert-if-absent
    assert(MetricsSink.upsertSql("windows", keys, keys) ==
      "INSERT INTO windows (window_start, window_end) VALUES (?, ?) " +
        "ON CONFLICT (window_start, window_end) DO NOTHING")
  }

  /** Jar-inventory proof that ON CONFLICT itself cannot run here — and
    * a tripwire that DEMANDS the live round-trip if a PG-compatible
    * engine ever appears (org.postgresql JDBC, H2 in MODE=PostgreSQL,
    * HSQLDB sql.syntax_pgs). Mirrors KafkaContractSpec's pattern. */
  test("environment proof: no PG-compatible driver anywhere " +
      "(else the live ON CONFLICT round-trip is owed)") {
    import scala.jdk.CollectionConverters._
    def present(cls: String): Boolean =
      try { Class.forName(cls); true }
      catch { case _: ClassNotFoundException => false }
    val pg = present("org.postgresql.Driver")
    val h2 = present("org.h2.Driver")
    val hsql = present("org.hsqldb.jdbc.JDBCDriver")
    val sparkJars = java.nio.file.Paths.get("/opt/spark/jars")
    val distJars =
      if (java.nio.file.Files.isDirectory(sparkJars)) {
        val s = java.nio.file.Files.list(sparkJars)
        try s.iterator().asScala.map(_.getFileName.toString.toLowerCase)
          .filter(n => n.contains("postgres") || n.startsWith("h2-") ||
            n.contains("hsqldb")).toList
        finally s.close()
      } else Nil
    assert(!pg && !h2 && !hsql && distJars.isEmpty,
      s"PG-compatible driver reachable (pg=$pg, h2=$h2, hsqldb=$hsql, " +
        s"dist=$distJars): replace this proof with a live " +
        "INSERT ... ON CONFLICT round-trip through " +
        "MetricsSink.jdbcUpsertWriter(dialect = Postgres)")
  }
}
