package graft

import graft.pipeline.{CopyRead, CopyWrite}
import org.apache.spark.sql.SparkSession

/** CLI dispatch — the reference's verb surface (`main.go:11-50`,
  * SURVEY.md §2A #22) over the Spark engine:
  *
  *   graft.Cli write <table> <col[:type],...> --in <csvPathOrDir> --out <parquetDirOrJdbcUrl> [flags]
  *   graft.Cli read  <table> <col,col,...> --in <parquetPathOrJdbcUrl> --out <csvDir> [flags]
  *
  * Flags mirror `flag.go` names (SURVEY.md §2C): --header, --null,
  * --bool-style, --time-format, --chunk-size, --max-batch-size,
  * --max-parse-errors, --max-insert-errors, --max-attempts, --backoff,
  * --num-processes, --offset. `--connect/--keyspace` have no meaning
  * without a cluster, and the server-side paging flags (`--page-size`,
  * `--prefetch`, `--partition-key-size`) none over a partitioned scan:
  * all are accepted and ignored. The table argument resolves to parquet
  * here and to a catalog table in production (see Tables).
  *
  * What the worker and batch flags map to: `--num-processes` is the verb
  * session's task-slot count (`local[n]`, the reference's worker
  * goroutines). `--chunk-size` and `--max-batch-size` bound JDBC batches
  * only. A parquet `--out` is written by one job with no shuffle, one
  * file per non-empty task, the tail rows with the rest, and the row
  * count it prints is counted inside that job.
  *
  * TYPED COLUMNS: a column may carry a declared type —
  * `s_suppkey:long,s_name:string,s_acctbal:double` — playing exactly the
  * role Cassandra's server-side schema plays for the reference (the
  * table's types are declared ahead of the copy, and cells resolve
  * against them; SURVEY.md §1.2). With any type declared, the write verb
  * parses via the schema'd decode rules and emits typed DDL to a jdbc:
  * sink (or typed parquet), so CSV → store → CSV round-trips preserve
  * types with no server-side-schema caveat. With bare names the verb
  * keeps the reference-compat tagged/stringly contract.
  */
object Cli {

  /** `name[:type]` column spec → (names, declared schema if any type
    * present; untyped columns in a typed list default to string). */
  def parseCols(spec: Seq[String]): (Seq[String], Option[org.apache.spark.sql.types.StructType]) = {
    import org.apache.spark.sql.types._
    val parsed = spec.map { s =>
      s.split(":", 2) match {
        case Array(n) => (n, None)
        case Array(n, t) => (n, Some(t match {
          case "long" | "bigint" => LongType
          case "double" => DoubleType
          case "bool" | "boolean" => BooleanType
          case "timestamp" => TimestampType
          case "string" | "text" | "varchar" => StringType
          case other => sys.error(s"unknown column type: $other (want long|double|bool|timestamp|string)")
        }))
      }
    }
    val names = parsed.map(_._1)
    names.foreach(Identifiers.requireIdentifier(_, "column"))
    val schema =
      if (parsed.forall(_._2.isEmpty)) None
      else Some(StructType(parsed.map { case (n, t) =>
        StructField(n, t.getOrElse(StringType))
      }))
    (names, schema)
  }

  def parseFlags(args: Seq[String], cfg: CopyConfig = CopyConfig()): (CopyConfig, Map[String, String]) = {
    var c = cfg
    val other = scala.collection.mutable.Map[String, String]()
    var i = 0
    while (i < args.length) {
      val (k, v) = (args(i), if (i + 1 < args.length) args(i + 1) else "")
      k match {
        case "--header" => c = c.copy(header = true); i += 1
        // engine extension (not in flag.go): double rule in the cascade
        case "--with-doubles" => c = c.copy(withDoubles = true); i += 1
        case "--null" => c = c.copy(nullValue = v); i += 2
        case "--bool-style" => c = c.copy(boolStyle = v); i += 2
        case "--time-format" => c = c.copy(timeFormat = v); i += 2
        case "--chunk-size" => c = c.copy(chunkSize = v.toInt); i += 2
        case "--max-batch-size" => c = c.copy(maxBatchSizeKb = v.toInt); i += 2
        case "--max-parse-errors" => c = c.copy(maxParseErrors = v.toInt); i += 2
        case "--max-insert-errors" => c = c.copy(maxInsertErrors = v.toInt); i += 2
        case "--max-attempts" => c = c.copy(maxAttempts = v.toInt); i += 2
        case "--backoff" => c = c.copy(backoffMs = v.toLong); i += 2
        case "--num-processes" => c = c.copy(numProcesses = v.toInt); i += 2
        case "--offset" => c = c.copy(offset = v.toLong); i += 2
        case flag if flag.startsWith("--") => other(flag.drop(2)) = v; i += 2
        case _ => sys.error(s"unexpected argument: $k")
      }
    }
    (c, other.toMap)
  }

  def main(args: Array[String]): Unit = {
    if (args.length < 3) {
      System.err.println("usage: graft.Cli <write|read> <table> <col[:type],...> --in <path> --out <path> [flags]")
      sys.exit(2)
    }
    val cfgPeek = parseFlags(args.drop(3).toSeq)._1
    val spark = Session.verb(math.max(cfgPeek.numProcesses, 1), s"graft-${args(0)}-${args(1)}")
    try run(args, spark) finally spark.stop()
  }

  /** Verb dispatch against a caller-owned session (main wraps this; tests
    * drive it directly). */
  def run(args: Array[String], spark: SparkSession): Unit = {
    val verb = args(0)
    val table = args(1)
    val (cols, declared) = parseCols(args(2).split(",").toSeq)
    Identifiers.requireIdentifier(table, "table")
    val (cfg, other) = parseFlags(args.drop(3).toSeq)
    val in = other.getOrElse("in", sys.error("--in is required"))
    val out = other.getOrElse("out", sys.error("--out is required"))
    verb match {
      case "write" =>
        // CSV → typed rows → sink. A jdbc: --out is the reference's
        // actual shape (CSV → Cassandra ≙ CSV → JDBC store: prepared
        // INSERT batches, retry, budgets); otherwise parquet files.
        if (out.startsWith("jdbc:")) {
          // the declared col:type schema is the server-side-schema
          // analog; bare names keep the stringly compat contract
          val schema = declared.getOrElse(
            org.apache.spark.sql.types.StructType(cols.map(c =>
              org.apache.spark.sql.types.StructField(c,
                org.apache.spark.sql.types.StringType))))
          val (typed, errs) = CopyWrite.read(spark, in, cols, cfg,
            schema = Some(schema))
          graft.sources.JdbcBackend.writeTable(typed, out, table, cfg)
          errs.check()
          System.err.println(s"[graft] wrote table $table via $out")
        } else {
          // declared types → schema'd decode (typed parquet); bare names
          // → reference-compat tagged cells
          val (typed, errs) = CopyWrite.read(spark, in, cols, cfg, schema = declared)
          val written = CopyWrite.sink(typed, out, errs)
          System.err.println(s"[graft] wrote $written rows to $out")
        }
      case "read" =>
        val raw =
          if (in.startsWith("jdbc:"))
            graft.sources.JdbcBackend.readTable(spark, in, table)
              .toDF(cols: _*) // JDBC stores may case-fold identifiers
          else spark.read.parquet(in)
        // declared col:type on the read side is the EXPORT contract,
        // symmetric with write: cast before rendering, so a store that
        // surfaces wider types (e.g. DECIMAL for a double column, or a
        // strings-only staging table) still exports the declared types
        // with their typed CSV quoting
        // cast() silently yields NULL for unconvertible cells, which
        // would export a malformed source cell as the NULL literal with
        // no error — asymmetric with the write side's errs channel. The
        // nulled-cell counts ride the export scan itself as observed
        // metrics (one pass, zero extra I/O — a separate counting job
        // would scan and cast the whole source twice), and the budget is
        // enforced after the action, exactly like the write side's
        // post-sink errs.check().
        val (src, castObs) = declared match {
          case Some(schema) =>
            import org.apache.spark.sql.functions.{col, sum, when}
            // try_cast, NOT cast: under ANSI mode (the Spark 4 default) a
            // plain cast THROWS mid-export on the first malformed cell —
            // an opaque job failure instead of the accounted NULL-export
            // contract. try_cast pins NULL-on-malformed semantics in
            // every session mode, and the counts below surface them.
            def tryCast(f: org.apache.spark.sql.types.StructField) =
              col(f.name).try_cast(f.dataType)
            val metrics = schema.fields.map(f =>
              sum(when(col(f.name).isNotNull && tryCast(f).isNull, 1L)
                .otherwise(0L)).as(f.name)).toIndexedSeq
            val obs = new org.apache.spark.sql.Observation("graft_read_cast")
            val observed = raw.observe(obs, metrics.head, metrics.tail: _*)
              .select(schema.fields.map(f => tryCast(f).as(f.name)).toIndexedSeq: _*)
            (observed, Some((obs, schema)))
          case None => (raw, None)
        }
        CopyRead.run(spark, src, cols, cols.head, cfg, out)
        castObs.foreach { case (obs, schema) =>
          val metrics = obs.get
          val bad = schema.fields.map(f =>
            f.name -> metrics.get(f.name).map(_.asInstanceOf[Long]).getOrElse(0L))
            .filter(_._2 > 0)
          bad.foreach { case (c, n) =>
            System.err.println(s"[graft] read cast: $n cell(s) of $c unconvertible to declared type (exported as NULL)")
          }
          val total = bad.map(_._2).sum
          if (cfg.maxParseErrors >= 0 && total > cfg.maxParseErrors)
            sys.error(s"read cast-error budget exceeded: $total > ${cfg.maxParseErrors}")
        }
        System.err.println(s"[graft] exported $out")
      case v => sys.error(s"unknown verb: $v (want write|read)")
    }
  }
}
