package graft

import java.net.{ServerSocket, Socket}
import java.sql.DriverManager

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.hive.thriftserver.HiveThriftServer2
import org.scalatest.funsuite.AnyFunSuite

/** External wire-protocol entry point (reference UX: any mysql client can
  * connect to the proxy listener, dataux proxy/server.go:62-110,
  * frontends/mysqlfe/mysql_handler.go:130-166). The Spark-native
  * counterpart is the Hive Thrift server: this spec boots it against the
  * engine's session and drives a query through a real out-of-process-style
  * JDBC connection — proving a user needs no Scala at all to reach the
  * engine, just a JDBC URL.
  *
  * The JDBC session is a NEW Spark session (thrift sessions don't share
  * temp views), so the queries go through surfaces that survive session
  * forks: path-based parquet tables and the conf-registered `graft`
  * catalog (whose SourceRegistry state is JVM-global, as on a real
  * driver).
  */
class JdbcEntrySpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSpark.session

  private val sfDir = "/root/testdata/sf0.001"

  private def freePort(): Int = {
    val ss = new ServerSocket(0)
    try ss.getLocalPort finally ss.close()
  }

  private def awaitPort(port: Int, timeoutMs: Long = 60000): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    var open = false
    while (!open && System.currentTimeMillis() < deadline) {
      try { new Socket("localhost", port).close(); open = true }
      catch { case _: Exception => Thread.sleep(250) }
    }
    assert(open, s"thrift server did not open port $port")
  }

  test("an external JDBC client reaches the engine through the Thrift server") {
    // keep the embedded metastore's derby files out of the repo
    System.setProperty("derby.system.home", "/tmp/graft-derby")
    graft.sources.FedData.ensure(spark, sfDir)
    val port = freePort()
    spark.sqlContext.setConf("hive.server2.thrift.port", port.toString)
    spark.sqlContext.setConf("hive.server2.thrift.bind.host", "localhost")
    val server = HiveThriftServer2.startWithContext(spark.sqlContext)
    try {
      awaitPort(port)
      Class.forName("org.apache.hive.jdbc.HiveDriver")
      val conn = DriverManager.getConnection(
        s"jdbc:hive2://localhost:$port/default", "anonymous", "")
      try {
        val st = conn.createStatement()
        // the flagship aggregation, as SQL text over a path table —
        // exactly what an external BI tool would send
        val rs = st.executeQuery(
          s"""SELECT l_returnflag, CAST(sum(l_quantity) AS BIGINT) AS sum_qty
             |FROM parquet.`$sfDir/lineitem.parquet`
             |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)
        var rows = List.empty[(String, Long)]
        while (rs.next()) rows ::= (rs.getString(1), rs.getLong(2))
        val viaJdbc = rows.reverse
        val direct = spark.read.parquet(s"$sfDir/lineitem.parquet")
          .groupBy("l_returnflag")
          .agg(org.apache.spark.sql.functions.sum("l_quantity").cast("long"))
          .orderBy("l_returnflag")
          .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
        assert(viaJdbc == direct, s"jdbc=$viaJdbc direct=$direct")
        assert(viaJdbc.nonEmpty)
        // the connector catalog works over JDBC too: the forked thrift
        // session starts from base conf, so the client binds the catalog
        // with a SET (what spark-defaults.conf would carry in production);
        // the registry state behind it is JVM-global on the driver
        st.execute(
          "SET spark.sql.catalog.graft=" +
            classOf[graft.sources.GraftCatalog].getName)
        val rs2 = st.executeQuery(
          "SELECT count(*) AS n FROM graft.fed.nation_csv")
        assert(rs2.next() && rs2.getLong(1) > 0)
        rs2.close()

        // a WIRE-PROTOCOL connector through JDBC: the statement travels
        // client → Thrift → Catalyst → the Mongo OP_MSG socket, with the
        // WHERE compiled into the shipped filter document — the full
        // federated path an external BI tool exercises
        val rs2b = st.executeQuery(
          "SELECT count(*) AS n FROM graft.mongo.orders_mongo " +
            "WHERE o_orderstatus = 'F'")
        assert(rs2b.next() && rs2b.getLong(1) > 0)
        rs2b.close()
        // count(*)+WHERE ships as ONE aggregate pipeline (the r14 agg
        // pushdown): the predicate rides the $match stage
        assert(graft.sources.LoopbackMongoServer.lastAggregate.get().contains("o_orderstatus"),
          "the JDBC-issued WHERE must reach the Mongo server in the pipeline's $match")

        // ---- the FULL dialect through the wire (parser extension) ------
        // The thrift session forked WITH GraftExtensions, so every
        // GraftEngine statement class works as plain SQL text — the
        // reference's whole-dialect-over-the-wire UX.
        def one(sql: String): Seq[Any] = {
          val r = st.executeQuery(sql)
          try {
            assert(r.next(), s"no row from: $sql")
            (1 to r.getMetaData.getColumnCount).map(r.getObject(_))
          } finally r.close()
        }
        // 1. transactions accepted as no-ops
        st.execute("BEGIN"); st.execute("COMMIT")
        // 2. session variables: SET @x then reference it in a SELECT
        st.execute("SET @who = 'jdbc'")
        st.execute("SET @n = 40 + 2")
        assert(one("SELECT concat(@who, '-', @n) AS tag") == Seq("jdbc-42"))
        // 3. system variables + SHOW VARIABLES
        assert(one("SELECT @@version AS v") == Seq("8.0-graft-spark"))
        assert(one("SHOW VARIABLES LIKE 'version'") ==
          Seq("version", "8.0-graft-spark"))
        // 4. MySQL-style SHOW CREATE TABLE over a registered view
        st.execute("CREATE OR REPLACE TEMPORARY VIEW nation AS " +
          s"SELECT * FROM parquet.`$sfDir/nation.parquet`")
        val ddl = one("SHOW CREATE TABLE nation")(1).toString
        assert(ddl.contains("ENGINE=InnoDB") && ddl.contains("`n_name`"), ddl)
        // 5. prepared statements: PREPARE / EXECUTE USING / DEALLOCATE
        st.execute("PREPARE p1 FROM 'SELECT ? * 2 AS doubled'")
        assert(one("EXECUTE p1 USING 21") == Seq(42))
        st.execute("DEALLOCATE PREPARE p1")
        // 6. dialect scalar functions (registered by the engine the first
        // dialect statement instantiated for this session)
        assert(one("SELECT prefix(n_name, 'NATION_') AS p FROM nation " +
          "WHERE n_nationkey = 0") == Seq(true))
        // 7. runtime source DDL + DML lifecycle: CREATE SOURCE, CREATE
        // TABLE, INSERT, UPSERT (Put semantics), DELETE, OPTIMIZE
        val srcDir = java.nio.file.Files
          .createTempDirectory("graft-jdbc-src").toFile.getPath
        st.execute(s"""CREATE SOURCE jdbcsrc WITH { "type": "csv", "path": "$srcDir", "pushdown": "keys" }""")
        st.execute("CREATE TABLE graft.jdbcsrc.kv (k BIGINT, v STRING) " +
          "TBLPROPERTIES ('keys' = 'k')")
        st.execute("INSERT INTO graft.jdbcsrc.kv VALUES (1, 'a'), (2, 'b')")
        st.execute("UPSERT INTO graft.jdbcsrc.kv VALUES (2, 'B'), (3, 'c')")
        assert(one("SELECT v FROM graft.jdbcsrc.kv WHERE k = 2") == Seq("B"))
        st.execute("DELETE FROM graft.jdbcsrc.kv WHERE k IN (1)")
        assert(one("SELECT count(*) AS n FROM graft.jdbcsrc.kv") == Seq(2L))
        val opt = one("OPTIMIZE TABLE graft.jdbcsrc.kv INTO 1 FILES")
        assert(opt.head.toString == "graft.jdbcsrc.kv", opt)
        // 8. SHOW SOURCES lists the runtime-registered source
        val srcs = {
          val r = st.executeQuery("SHOW SOURCES")
          try {
            val b = Seq.newBuilder[String]
            while (r.next()) b += r.getString(1)
            b.result()
          } finally r.close()
        }
        assert(srcs.contains("jdbcsrc"), srcs)
        st.execute("DROP TABLE graft.jdbcsrc.kv")
        st.execute("DROP SOURCE jdbcsrc")
        st.close()
      } finally conn.close()
    } finally server.stop()
  }
}
