package graft.sources

import java.sql.DriverManager

import graft.{CopyConfig, Identifiers, Scratch}
import graft.pipeline.BatchingSink
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** Second pluggable backend behind the [[graft.Tables]] seam: a JDBC
  * row-store (embedded Derby in this harness — the only JDBC engine on
  * the Spark classpath), playing the role Cassandra plays for the
  * reference (`/root/reference/write.go:70` prepared INSERT batches,
  * `read.go:45` full-table scan back out).
  *
  * Write path = the reference's shape end-to-end: a prepared
  * `INSERT INTO t (cols…) VALUES (?,…)` (`write.go:90-93`) executed in
  * batches through [[BatchingSink]] — so the chunk-size/byte-size flush
  * thresholds, the retry-with-backoff commit (`write.go:253-265`) and
  * the insert-error budget all apply to a REAL second sink, not just
  * parquet.
  *
  * Read path = `spark.read.format("jdbc")`, optionally partitioned on a
  * numeric column (`partitionColumn`/bounds) — the token-range-parallel
  * scan analog (`read.go:83-86`). Embedded Derby is single-JVM so the
  * harness reads it unpartitioned; against a networked store the
  * partitioned branch is the 1000-executor path.
  */
object JdbcBackend {

  val DriverClass = "org.apache.derby.jdbc.EmbeddedDriver"

  /** Embedded-Derby URL for a database directory (created on demand). */
  def derbyUrl(dbDir: String): String = {
    // keep derby.log out of the CWD root (once per JVM, before engine
    // boot); Derby creates the file but not its parent dirs
    if (System.getProperty("derby.stream.error.file") == null)
      System.setProperty("derby.stream.error.file", Scratch.file("derby.log"))
    s"jdbc:derby:$dbDir;create=true"
  }

  /** Embedded-DuckDB URL (probe-only second store, r12 verdict item 6:
    * the Derby prepared-INSERT number is Derby-bound, so a faster
    * embedded store behind the SAME sink separates sink architecture
    * from store ceiling). The duckdb_jdbc jar is supplied on the PROBE
    * classpath only (`EXTRA_CP` in scripts/run-tool.sh) — it is not a
    * build dependency and nothing in the library requires it. */
  def duckdbUrl(dbDir: String): String = {
    new java.io.File(dbDir).mkdirs()
    s"jdbc:duckdb:$dbDir/duck.db"
  }

  private def sqlType(dt: DataType): String = dt match {
    case LongType => "BIGINT"
    case IntegerType => "INTEGER"
    case ShortType => "SMALLINT"
    case DoubleType => "DOUBLE"
    case FloatType => "REAL"
    case BooleanType => "BOOLEAN"
    case TimestampType => "TIMESTAMP"
    case DateType => "DATE"
    case StringType => "VARCHAR(4000)"
    case d: DecimalType => s"DECIMAL(${d.precision},${d.scale})"
    case other => sys.error(s"jdbc sink: unsupported type $other")
  }

  private def jdbcTypeCode(dt: DataType): Int = dt match {
    case LongType => java.sql.Types.BIGINT
    case IntegerType => java.sql.Types.INTEGER
    case ShortType => java.sql.Types.SMALLINT
    case DoubleType => java.sql.Types.DOUBLE
    case FloatType => java.sql.Types.REAL
    case BooleanType => java.sql.Types.BOOLEAN
    case TimestampType => java.sql.Types.TIMESTAMP
    case DateType => java.sql.Types.DATE
    case _ => java.sql.Types.VARCHAR
  }

  /** (Re)create the target table from a Spark schema. Identifier
    * validation is the reference's CQL-injection guard (`util.go:3-18`)
    * applied to the same surface: names are interpolated into DDL. */
  def createTable(url: String, table: String, schema: StructType): Unit = {
    Identifiers.requireIdentifier(table, "table")
    schema.fieldNames.foreach(Identifiers.requireIdentifier(_, "column"))
    val conn = DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      try st.executeUpdate(s"DROP TABLE $table")
      catch { case _: java.sql.SQLException => () } // no DROP IF EXISTS in Derby
      // some engines (DuckDB JDBC) close the Statement when a statement
      // errors — the failed DROP on a fresh database must not poison
      // the CREATE
      val st2 = if (st.isClosed) conn.createStatement() else st
      val cols = schema.fields.map(f => s"${f.name} ${sqlType(f.dataType)}").mkString(", ")
      st2.executeUpdate(s"CREATE TABLE $table ($cols)")
      st2.close()
    } finally conn.close()
  }

  /** Distributed prepared-INSERT write through the batching sink. Each
    * flushed batch commits in one JDBC transaction (addBatch/executeBatch)
    * with the reference's retry loop around it; a batch that exhausts its
    * attempts counts against the insert-error budget and the job aborts
    * past it. One connection + prepared statement per PARTITION (opened
    * lazily, closed in a finally) — the statement is prepared once and
    * reused for every batch the task writes, which is the economics a
    * networked store needs (the reference likewise keeps one session per
    * worker, `write.go:70`). A failed commit attempt recycles the
    * connection, so the retry reopens instead of hammering a broken
    * session; autoCommit=false means close-without-commit rolls back any
    * half-applied attempt. */
  def writeTable(df: DataFrame, url: String, table: String, cfg: CopyConfig): Unit = {
    createTable(url, table, df.schema)
    val schema = df.schema
    val fieldTypes = schema.fields.map(f => jdbcTypeCode(f.dataType))
    val insertSql =
      s"INSERT INTO $table (${schema.fieldNames.mkString(", ")}) " +
        s"VALUES (${Array.fill(schema.length)("?").mkString(", ")})"
    val failed = df.sparkSession.sparkContext.longAccumulator("jdbcFailedBatches")
    BatchingSink.runWith[(java.sql.Connection, java.sql.PreparedStatement)](
      df, cfg,
      open = () => {
        val conn = DriverManager.getConnection(url)
        conn.setAutoCommit(false)
        (conn, conn.prepareStatement(insertSql))
      },
      commit = { case ((conn, ps), batch) =>
        ps.clearBatch() // drop leftovers from any failed prior attempt
        batch.foreach { row =>
          var i = 0
          while (i < schema.length) {
            val v = row.get(i)
            if (v == null) ps.setNull(i + 1, fieldTypes(i))
            else ps.setObject(i + 1, v)
            i += 1
          }
          ps.addBatch()
        }
        ps.executeBatch()
        conn.commit()
      },
      close = { case (conn, ps) =>
        try ps.close() finally conn.close()
      },
      failed)
  }

  /** Read a JDBC table back as a DataFrame. With `partitionColumn` +
    * bounds the scan fans out over `numPartitions` parallel range reads
    * (the token-range analog); unpartitioned otherwise. */
  def readTable(s: SparkSession, url: String, table: String,
      partitionColumn: Option[String] = None,
      lowerBound: Long = 0L, upperBound: Long = 0L, numPartitions: Int = 8): DataFrame = {
    // driver class by URL scheme: Derby is the default backend, DuckDB
    // the probe-only second store (its jar rides EXTRA_CP)
    val driver =
      if (url.startsWith("jdbc:duckdb:")) "org.duckdb.DuckDBDriver"
      else DriverClass
    val base = s.read.format("jdbc")
      .option("url", url)
      .option("dbtable", table)
      .option("driver", driver)
    partitionColumn match {
      case Some(c) => base
        .option("partitionColumn", c)
        .option("lowerBound", lowerBound)
        .option("upperBound", upperBound)
        .option("numPartitions", numPartitions)
        .load()
      case None => base.load()
    }
  }
}
