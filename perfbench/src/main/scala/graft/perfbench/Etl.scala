package graft.perfbench

import graft.{Main, SparkEntry}
import graft.compile.SpecCompiler
import graft.ops.{Sinks, Tables, ViewRouter}
import graft.queries.ParityQueries
import graft.spec.PipelineSpec
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.io.File
import java.sql.{Connection, DriverManager, SQLException}
import scala.collection.mutable

/** The report job, end to end: each unit runs `graft.Main.main` once per
  * report of the config table, and each run reads its config row and
  * inputs over JDBC from embedded Derby, compiles the spec and appends the
  * report to its Derby sink table.
  *
  * The two reports stress opposite ends of the job. `rollup` (q07's
  * `multiple_process` spec) reads customer, orders and lineitem and
  * appends one row per customer; `export` (q06's flagship spec) reads
  * orders three times and appends one row per order.
  *
  * Set-up writes the parity tables as CSV in the seed's row order and
  * bulk-imports them into a fresh in-memory Derby database; it uses no
  * Spark, so the first unit is the first Spark work of the process, as for
  * a daily `spark-submit`. Before every unit the sinks are dropped and
  * recreated, untimed, so each job appends into an empty table.
  *
  * The traced run replays `Main.run` step by step through the same public
  * calls, with a span around each, materializing the JDBC inputs and the
  * result in between so that reading, executing and appending are timed
  * apart; `sinks.append` then times the write alone.
  */
final class Etl(a: Harness.Args) extends Harness.Workload {
  import Etl.Report
  def unitKind = "run"
  def setupUsesSpark = false

  val nCustomers = 2400
  val reports: Seq[Report] = Seq(
    Report("rollup", ParityQueries.multiSpec, "q07_spec_multiprocess",
      Seq("customer", "orders", "lineitem"),
      "CREATE TABLE %s (custkey BIGINT, name VARCHAR(25), total_qty DOUBLE)"),
    Report("export", ParityQueries.flagshipSpec, "q06_flagship_pipeline",
      Seq("customer", "orders"),
      """CREATE TABLE %s (mentor BIGINT, orderkey BIGINT, order_value DOUBLE,
           total_value DOUBLE, n_sessions BIGINT, avg_value DOUBLE)"""))

  private val db = "jdbc:derby:memory:perfbench"
  private val inputs = new File(a.work, "inputs")
  private lazy val data = Gen.parity(nCustomers)
  private val sinkCounts = mutable.Map.empty[String, mutable.ArrayBuffer[Long]]
  private val perUnit = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]

  private def sink(r: Report) = s"${r.scriptType}_sink"
  private def args(r: Report) = Array("etl_config", r.scriptType,
    "--properties", new File(a.work, s"${r.scriptType}.properties").getPath)

  private def conn(create: Boolean = false): Connection =
    DriverManager.getConnection(if (create) db + ";create=true" else db)

  private def exec(c: Connection, sql: String*): Unit = {
    val st = c.createStatement()
    try sql.foreach(st.executeUpdate) finally st.close()
  }

  private def dropDb(): Unit =
    try DriverManager.getConnection(db + ";drop=true").close()
    catch { case _: SQLException => () } // Derby reports a drop as 08006

  def setup(spark: => SparkSession): Unit = {
    dropDb()
    val d = data
    val csv = Map(
      "customer" -> Gen.shuffled(d.customers, a.seed).iterator
        .map(c => s"${c.custkey},${c.name}"),
      "orders" -> Gen.shuffled(d.orders, a.seed + 1).iterator
        .map(o => s"${o.orderkey},${o.custkey},${o.totalprice}"),
      "lineitem" -> Gen.shuffled(d.lineitems, a.seed + 2).iterator
        .map(l => s"${l.orderkey},${l.linenumber},${l.quantity}"))
    csv.foreach { case (t, lines) => Gen.writeLines(new File(inputs, s"$t.csv"), lines) }
    val c = conn(create = true)
    try {
      exec(c,
        "CREATE TABLE customer (c_custkey BIGINT, c_name VARCHAR(25))",
        "CREATE TABLE orders (o_orderkey BIGINT, o_custkey BIGINT, o_totalprice DOUBLE)",
        "CREATE TABLE lineitem (l_orderkey BIGINT, l_linenumber INT, l_quantity DOUBLE)",
        """CREATE TABLE etl_config (script_type VARCHAR(64),
             input_data_schema VARCHAR(16000), data_mapping VARCHAR(16000),
             output_data_schema VARCHAR(16000))""")
      csv.keys.foreach { t =>
        val cs = c.prepareCall(
          "CALL SYSCS_UTIL.SYSCS_IMPORT_TABLE(NULL, ?, ?, ',', NULL, 'UTF-8', 0)")
        cs.setString(1, t.toUpperCase)
        cs.setString(2, new File(inputs, s"$t.csv").getPath)
        cs.execute(); cs.close()
      }
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      reports.foreach { r =>
        val root = mapper.readTree(r.spec)
        val ps = c.prepareStatement("INSERT INTO etl_config VALUES (?, ?, ?, ?)")
        ps.setString(1, r.scriptType)
        ps.setString(2, root.get("input_data_schema").toString)
        ps.setString(3, root.get("data_mapping").toString)
        ps.setString(4, root.get("output_data_schema").toString)
        ps.executeUpdate(); ps.close()
      }
    } finally c.close()
    reports.foreach(r => Gen.writeLines(new File(a.work, s"${r.scriptType}.properties"),
      Iterator(s"url=$db", s"input.tables=${r.inputTables.mkString(",")}",
        s"sink.table=${sink(r)}")))
  }

  private def resetSinks(): Unit = {
    val c = conn()
    try reports.foreach { r =>
      try exec(c, s"DROP TABLE ${sink(r)}") catch { case _: SQLException => () }
      exec(c, r.sinkDdl.format(sink(r)))
    } finally c.close()
  }

  private def countSinks(): Unit = {
    val c = conn()
    try reports.foreach { r =>
      val rs = c.createStatement().executeQuery(s"SELECT COUNT(*) FROM ${sink(r)}")
      rs.next()
      sinkCounts.getOrElseUpdate(r.scriptType, mutable.ArrayBuffer.empty) += rs.getLong(1)
    } finally c.close()
  }

  /** The cold unit, then one more untimed: while the JIT still compiles,
    * a JVM's second unit runs about a third above the steady time. */
  def first(spark: SparkSession, rec: Recorder): Unit =
    (1 to 2).foreach { _ =>
      resetSinks()
      rec.unit(unitKind)(reports.foreach(r => Main.main(args(r))))
      countSinks()
    }

  def next(spark: SparkSession, rec: Recorder): Unit = {
    resetSinks()
    if (!rec.traced) rec.unit(unitKind)(reports.foreach(r => Main.main(args(r))))
    else tracedUnit(spark, rec)
    countSinks()
  }

  /** `Main.main`/`Main.run` through their public parts, one span each. */
  private def tracedUnit(spark: SparkSession, rec: Recorder): Unit = {
    val read = mutable.ArrayBuffer.empty[DataFrame]
    val written = mutable.ArrayBuffer.empty[DataFrame]
    // each step's seconds by report, for the detail line
    val spent = mutable.LinkedHashMap.empty[String, Double]
    rec.unit(unitKind)(reports.foreach { r =>
      def step[T](name: String)(body: => T): T = {
        val t0 = System.nanoTime()
        try rec.span(name)(body)
        finally {
          val k = s"report.${r.scriptType}.${name}_s"
          spent(k) = spent.getOrElse(k, 0.0) + (System.nanoTime() - t0) / 1e9
        }
      }
      val argv = args(r)
      val conf = step("main.parse")(Main.parseArgs(argv, Main.loadProperties(argv)))
      val opts = conf.jdbcOptions
      val spec = step("spec.config_read")(PipelineSpec.fromConfigTable(
        Tables.jdbc(spark, conf.inputUrl,
          s"SELECT script_type, input_data_schema, data_mapping, output_data_schema FROM ${conf.configTable}",
          options = opts),
        conf.scriptType))
      step("tables.jdbc_read")(conf.inputTables.foreach { t =>
        val df = Tables.materialize(
          Tables.jdbc(spark, conf.inputUrl, s"SELECT * FROM $t", options = opts))
        df.createOrReplaceTempView(t)
        read += df
      })
      val outputs = step("compile")(SpecCompiler.compileEntries(spark, spec, ViewRouter))
      step("catalyst.plan")(outputs.foreach(_.queryExecution.executedPlan))
      val results = step("exec")(outputs.map(Tables.materialize))
      step("sinks.append")(results.foreach(df =>
        Sinks.jdbcAppend(df, conf.sinkUrl, conf.sinkTable, opts)))
      written ++= results
    })
    def add(k: String, v: Double) = perUnit.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += v
    spent.foreach { case (k, v) => add(k, v) }
    add("tables.jdbc_rows", read.map(_.count()).sum.toDouble)
    add("tables.jdbc_partitions", read.map(_.rdd.getNumPartitions).sum.toDouble)
    add("sinks.rows", written.map(_.count()).sum.toDouble)
    // connections used: the write tasks of the jobs inside sinks.append
    add("sinks.partitions",
      rec.units.last.exec.map(_.resultTasksIn("sinks.append")).getOrElse(0).toDouble)
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  def check(spark: SparkSession, rec: Recorder, problems: mutable.Buffer[String],
            out: mutable.Map[String, Any]): Unit = {
    // the last unit's sinks and the program's own DuckDB oracle of each
    // report's parity query, for run.py to compare
    val c = conn()
    val sinks = try reports.map { r =>
      val dump = new File(a.work, s"${sink(r)}.tsv")
      val rs = c.createStatement().executeQuery(s"SELECT * FROM ${sink(r)}")
      val md = rs.getMetaData
      val cols = (1 to md.getColumnCount).map(i => md.getColumnName(i).toLowerCase)
      val rows = Iterator.continually(rs).takeWhile(_.next()).map(row =>
        cols.indices.map(i => Option(row.getString(i + 1)).getOrElse("\\N")).mkString("\t"))
      Gen.writeLines(dump, Iterator(cols.mkString("\t")) ++ rows)
      r.scriptType -> Map("sink" -> dump.getPath, "sql" -> SparkEntry.oracleSql(r.oracle),
        "counts" -> sinkCounts.getOrElse(r.scriptType, Nil).toSeq)
    }.toMap finally c.close()
    out("oracle") = Map("kind" -> "etl", "inputs" -> inputs.getPath, "reports" -> sinks)
    dropDb()
  }

  override def traceMetrics(rec: Recorder, m: mutable.Map[String, Any]): Unit =
    perUnit.foreach { case (k, xs) => m(k) = xs.sum / xs.size }
}

object Etl {
  /** `oracle`: the `SparkEntry.oracleSql` key of the report's query. */
  final case class Report(scriptType: String, spec: String, oracle: String,
                          inputTables: Seq[String], sinkDdl: String)
}
