package graft

import java.sql.DriverManager

import org.scalatest.funsuite.AnyFunSuite
import graft.sources.Jdbc

/** Exercises the JDBC source path end-to-end against embedded Derby —
  * the JDBC engine that ships with Spark — since the container has no
  * live Postgres. What is under test is OUR read surface: the
  * range-partitioned parallel scan (the distributed FETCH FORWARD
  * analog), predicate pushdown reaching the database, and the
  * arbitrary-SQL `query` analog. Only the URL differs from a Postgres
  * deployment.
  */
class JdbcSpec extends AnyFunSuite {
  private def spark = TestSpark.spark

  private lazy val dbPath = {
    val dir = java.nio.file.Files.createTempDirectory("derby").toString + "/db"
    val conn = DriverManager.getConnection(s"jdbc:derby:$dir;create=true")
    val st = conn.createStatement()
    st.executeUpdate("CREATE TABLE ORDERS_J (ID BIGINT NOT NULL, PRICE DOUBLE, STATUS VARCHAR(1))")
    conn.setAutoCommit(false)
    val ps = conn.prepareStatement("INSERT INTO ORDERS_J VALUES (?, ?, ?)")
    (0 until 1000).foreach { i =>
      ps.setLong(1, i.toLong)
      ps.setDouble(2, i * 1.5)
      ps.setString(3, if (i % 2 == 0) "F" else "O")
      ps.addBatch()
    }
    ps.executeBatch(); conn.commit(); conn.close()
    dir
  }

  // the connect_alt form: one connection string, fields defaulted
  private def cs = Jdbc.ConnSettings.fromUrl(s"jdbc:derby:$dbPath")

  test("range-partitioned read shards the scan and loses no rows") {
    val df = Jdbc.read(spark, cs, "ORDERS_J", "ID", 0, 1000, numPartitions = 8)
    assert(df.rdd.getNumPartitions == 8, "each executor slice must be its own range query")
    assert(df.count() == 1000)
    val sum = df.agg(org.apache.spark.sql.functions.sum("PRICE")).head().getDouble(0)
    assert(sum == (0 until 1000).map(_ * 1.5).sum, "range boundaries must not drop/dup rows")
  }

  test("filters push down to the database, not the executor") {
    val df = Jdbc.read(spark, cs, "ORDERS_J", "ID", 0, 1000, numPartitions = 4)
      .where("ID < 100 AND STATUS = 'F'")
    val p = df.queryExecution.executedPlan.toString()
    assert(p.contains("PushedFilters") && p.contains("LessThan(ID,100)"),
      "WHERE must ship to the database: " + p)
    assert(df.count() == 50)
  }

  test("sessionInit runs once per connection (the pool-affinity analog)") {
    // each read partition opens its own connection; sessionInit is the
    // SET search_path / GUC affinity knob of the reference's pool —
    // observable here because every connection's init INSERTs a row
    val conn = DriverManager.getConnection(s"jdbc:derby:$dbPath")
    val st = conn.createStatement()
    try st.executeUpdate("DROP TABLE INIT_LOG") catch { case _: Exception => () }
    st.executeUpdate("CREATE TABLE INIT_LOG (HIT INT)")
    conn.close()
    val csInit = cs.copy(sessionInit = Some("INSERT INTO INIT_LOG VALUES (1)"))
    val n = Jdbc.read(spark, csInit, "ORDERS_J", "ID", 0, 1000, numPartitions = 4).count()
    assert(n == 1000)
    val conn2 = DriverManager.getConnection(s"jdbc:derby:$dbPath")
    val rs = conn2.createStatement().executeQuery("SELECT COUNT(*) FROM INIT_LOG")
    rs.next()
    val hits = rs.getInt(1)
    conn2.close()
    assert(hits >= 4, s"init statement must run on every partition's connection, got $hits")
  }

  test("connection budget: numPartitions beyond maxConnections fails at plan time") {
    // the pool-cap analog (reference Connection.hs:29-71 stripes): each
    // read partition holds one database connection, so the reader's
    // parallelism is bounded by the database's connection budget — loud
    // at plan time, not as connection refusals from a fleet of executors
    val capped = cs.copy(maxConnections = 4)
    assert(Jdbc.read(spark, capped, "ORDERS_J", "ID", 0, 1000, numPartitions = 4).count() == 1000)
    val e = intercept[IllegalArgumentException] {
      Jdbc.read(spark, capped, "ORDERS_J", "ID", 0, 1000, numPartitions = 8)
    }
    assert(e.getMessage.contains("maxConnections"))
  }

  test("writeTable exports a DataFrame as batched inserts; round-trips through readDim") {
    val sp = spark
    import sp.implicits._
    val out = (1L to 300L).map(i => (i, i * 2.5, if (i % 3 == 0) "A" else "B"))
      .toDF("ID", "PRICE", "STATUS")
    // append mode creates the table on first write
    Jdbc.writeTable(out, cs, "EXPORT_J", mode = "append", numPartitions = 4)
    val back = Jdbc.readDim(spark, cs, "EXPORT_J")
    assert(back.count() == 300)
    assert(back.agg(org.apache.spark.sql.functions.sum("PRICE")).head().getDouble(0)
      == (1L to 300L).map(_ * 2.5).sum)
    // append again: pure INSERTs, rows double
    Jdbc.writeTable(out, cs, "EXPORT_J", mode = "append", numPartitions = 2)
    assert(Jdbc.readDim(spark, cs, "EXPORT_J").count() == 600)
    // overwrite replaces the content
    Jdbc.writeTable(out.where("ID <= 10"), cs, "EXPORT_J", mode = "overwrite",
      numPartitions = 1)
    assert(Jdbc.readDim(spark, cs, "EXPORT_J").count() == 10)
    // the connection budget guards the write side too
    val e = intercept[IllegalArgumentException] {
      Jdbc.writeTable(out, cs.copy(maxConnections = 2), "EXPORT_J", numPartitions = 8)
    }
    assert(e.getMessage.contains("maxConnections"))
  }

  test("readQuery runs caller SQL on the database (the query analog)") {
    val df = Jdbc.readQuery(spark, cs,
      "SELECT STATUS, COUNT(*) AS N, SUM(PRICE) AS TOTAL FROM ORDERS_J GROUP BY STATUS")
    val rows = df.orderBy("STATUS").collect()
    assert(rows.length == 2)
    assert(rows.map(_.getAs[Number]("N").longValue()).toSeq == Seq(500L, 500L))
  }

  test("JDBC CDC pipeline: poll database changes into lake state, exactly-once") {
    import org.apache.spark.sql.functions._
    import graft.streaming.{JdbcCdc, LakeMerge}
    // a Debezium-ish change table in the database
    val conn = DriverManager.getConnection(s"jdbc:derby:$dbPath")
    val st = conn.createStatement()
    st.executeUpdate(
      "CREATE TABLE CHANGES (OP VARCHAR(1), TS_MS BIGINT, O_ORDERKEY BIGINT, O_TOTALPRICE DOUBLE)")
    def ins(op: String, ts: Long, key: Long, price: java.lang.Double): Unit = {
      val ps = conn.prepareStatement("INSERT INTO CHANGES VALUES (?, ?, ?, ?)")
      ps.setString(1, op); ps.setLong(2, ts); ps.setLong(3, key)
      if (price == null) ps.setNull(4, java.sql.Types.DOUBLE) else ps.setDouble(4, price)
      ps.executeUpdate()
    }
    (0L until 20L).foreach(k => ins("r", k * 10, k, k * 100.0)) // snapshot

    val statePath = java.nio.file.Files.createTempDirectory("jdbc_cdc").toString + "/state"

    // poll 1: snapshot lands (bootstrap — the lake does not exist yet)
    val w1 = JdbcCdc.ingestOnce(spark, cs, "CHANGES", statePath, sinceTs = -1L)
    assert(w1 == 190L)
    assert(LakeMerge.readState(spark, statePath).count() == 20)

    // poll 2: an update and a delete arrive later
    ins("u", 500L, 3L, 999.0)
    ins("d", 501L, 4L, null)
    val w2 = JdbcCdc.ingestOnce(spark, cs, "CHANGES", statePath, sinceTs = w1)
    assert(w2 == 501L)
    val state = LakeMerge.readState(spark, statePath)
    assert(state.count() == 19, "deleted key must leave state")
    assert(state.where("o_orderkey = 3").head().getAs[Double]("price") == 999.0)
    assert(state.where("o_orderkey = 4").count() == 0)

    // replay the same window (crash between merge and watermark
    // commit): at-least-once poll + idempotent merge = same state
    val w3 = JdbcCdc.ingestOnce(spark, cs, "CHANGES", statePath, sinceTs = w1)
    assert(w3 == w2)
    assert(LakeMerge.readState(spark, statePath).count() == 19)

    // empty poll is one scalar round trip and a no-op
    assert(JdbcCdc.ingestOnce(spark, cs, "CHANGES", statePath, sinceTs = w2) == w2)
    conn.close()
  }

  test("live-table polling: a real source DELETE reaches the lake via the tombstone trigger") {
    import org.apache.spark.sql.functions._
    import graft.streaming.{JdbcCdc, LakeMerge}
    import graft.sources.Snapshots
    val conn = DriverManager.getConnection(s"jdbc:derby:$dbPath")
    val st = conn.createStatement()
    // a LIVE table with an audit column — deletes would vanish without
    // a trace, so a delete trigger writes tombstones (seq = the poll's
    // monotone resume token; ts = superseded audit time + 1 so
    // latest-wins ordering puts the delete after the row it removes)
    st.executeUpdate(
      "CREATE TABLE ORDERS_SRC (ID BIGINT, PRICE DOUBLE, UPDATED_MS BIGINT)")
    st.executeUpdate(
      "CREATE TABLE TOMB (SEQ BIGINT GENERATED ALWAYS AS IDENTITY, ID BIGINT, TS_MS BIGINT)")
    st.executeUpdate(
      "CREATE TRIGGER TRG_SRC_DEL AFTER DELETE ON ORDERS_SRC REFERENCING OLD AS O " +
        "FOR EACH ROW INSERT INTO TOMB (ID, TS_MS) VALUES (O.ID, O.UPDATED_MS + 1)")
    (0L until 10L).foreach(k =>
      st.executeUpdate(s"INSERT INTO ORDERS_SRC VALUES ($k, ${k * 100.0}, ${k * 10})"))

    val statePath = java.nio.file.Files.createTempDirectory("jdbc_live").toString + "/state"
    val (w1src, w1del) = JdbcCdc.ingestFromTable(spark, cs, "ORDERS_SRC", "TOMB",
      statePath, sinceSrcMs = -1L, sinceDelSeq = -1L)
    assert(w1src == 90L && w1del == -1L)
    assert(LakeMerge.readState(spark, statePath).count() == 10)

    // a real DELETE on the live table + an update; the trigger captures
    // the delete the audit column cannot see
    val snap = new Snapshots(spark, statePath)
    val vBefore = snap.currentVersion.get
    st.executeUpdate("UPDATE ORDERS_SRC SET PRICE = 999.0, UPDATED_MS = 500 WHERE ID = 3")
    st.executeUpdate("DELETE FROM ORDERS_SRC WHERE ID = 4")
    val (w2src, w2del) = JdbcCdc.ingestFromTable(spark, cs, "ORDERS_SRC", "TOMB",
      statePath, w1src, w1del)
    assert(w2src == 500L && w2del == 1L)
    val state = LakeMerge.readState(spark, statePath)
    assert(state.count() == 9, "deleted key must leave state")
    assert(state.where("o_orderkey = 3").head().getAs[Double]("price") == 999.0)
    assert(state.where("o_orderkey = 4").count() == 0)

    // the removal is VISIBLE as change data: readChanges on the state
    // table shows the deleted key's pre-image removed and never
    // re-added — c08's diff surface composing with the JDBC loop
    // end-to-end
    val diff = snap.readChanges(LakeMerge.Table, vBefore, snap.currentVersion.get)
    val removed4 = diff.where(col("_change") === "removed" && col("o_orderkey") === 4L)
    val added4 = diff.where(col("_change") === "added" && col("o_orderkey") === 4L)
    assert(removed4.count() == 1, "deleted key's pre-image must surface as removed")
    assert(added4.count() == 0, "deleted key must not be re-added")

    // replay the same window: idempotent (crash between merge and token commit)
    JdbcCdc.ingestFromTable(spark, cs, "ORDERS_SRC", "TOMB", statePath, w1src, w1del)
    assert(LakeMerge.readState(spark, statePath).count() == 9)
    // empty poll: two scalar round trips, no merge, tokens unchanged
    assert(JdbcCdc.ingestFromTable(spark, cs, "ORDERS_SRC", "TOMB",
      statePath, w2src, w2del) == (w2src, w2del))
    conn.close()
  }

  test("readDim single-query read matches the partitioned read") {
    val dim = Jdbc.readDim(spark, cs, "ORDERS_J")
    assert(dim.count() == 1000)
    assert(dim.rdd.getNumPartitions == 1, "dim read is one cursor by design")
  }

  test("JdbcReplicate batch apply converges under replay (exactly-once by idempotence)") {
    val sp = spark
    import sp.implicits._
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("derbyrep").toString + "/db"
    val rcs = Jdbc.ConnSettings.fromUrl(s"jdbc:derby:$dir")
    val conn = DriverManager.getConnection(s"jdbc:derby:$dir;create=true")
    val st = conn.createStatement()
    st.executeUpdate("CREATE TABLE T_R (ID BIGINT NOT NULL PRIMARY KEY, V BIGINT)")
    // pre-existing rows: 1 (will be updated), 2 (will die), 9 (untouched)
    st.executeUpdate("INSERT INTO T_R VALUES (1, 100), (2, 200), (9, 900)")
    conn.close()

    // a change-feed-shaped batch spanning two versions: key 1 updated
    // (remove+add), key 2 deleted, key 3 inserted, key 4 inserted at v1
    // then deleted at v2 (last version wins → never lands)
    val batch = Seq(
      (1L, 100L, "removed", 1L), (1L, 101L, "added", 1L),
      (2L, 200L, "removed", 2L),
      (3L, 300L, "added", 1L),
      (4L, 400L, "added", 1L), (4L, 400L, "removed", 2L)
    ).toDF("ID", "V", "_change", "_commit_version")

    def state(): Map[Long, Long] =
      Jdbc.readQuery(spark, rcs, "SELECT ID, V FROM T_R").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expect = Map(1L -> 101L, 3L -> 300L, 9L -> 900L)

    graft.streaming.JdbcReplicate.applyBatchJdbc(rcs, "T_R", "ID")(batch, 0L)
    assert(state() == expect, "first apply must land update/delete/insert and drop the died-in-batch key")
    // replay the identical batch — the convergence IS the exactly-once
    // guarantee after a checkpoint-restart redelivery
    graft.streaming.JdbcReplicate.applyBatchJdbc(rcs, "T_R", "ID")(batch, 0L)
    assert(state() == expect, "replay must be a no-op")
  }
}
