package graft

/** Engine configuration — the reference's full flag surface
  * (`/root/reference/flag.go:3-20` and registrations in `write.go:30-41`,
  * `read.go:27-31`, `main.go:41-42`) as a case class with the same
  * defaults (SURVEY.md §2C / §6).
  */
final case class CopyConfig(
    // write-path flags (write.go:30-41)
    boolStyle: String = "true,false",     // --bool-style: "<true>,<false>" (write.go:117-118)
    timeFormat: String = "2006-01-02 15:04:05-0700", // --time-format (Go layout)
    header: Boolean = false,              // --header
    maxAttempts: Int = 5,                 // --max-attempts (0 = infinite)
    nullValue: String = "NULL",           // --null
    numProcesses: Int = 8,                // --num-processes
    chunkSize: Int = 1000,                // --chunk-size (rows per batch)
    maxBatchSizeKb: Int = 20,             // --max-batch-size (kB per batch)
    maxInsertErrors: Int = -1,            // --max-insert-errors (<0 unlimited)
    maxParseErrors: Int = -1,             // --max-parse-errors (<0 unlimited)
    backoffMs: Long = 1000,               // --backoff
    // read-path flags (read.go:27-31); --page-size, --prefetch and
    // --partition-key-size are accepted and ignored by Cli.parseFlags
    offset: Long = Long.MinValue,         // --offset (exclusive lower bound)
    // engine extension (NOT a reference flag): adds the double rule (5.5)
    // to the inference cascade. Default false = strict compat, where
    // "3.14" stays a string (the reference's admitted gap, README.md:11).
    withDoubles: Boolean = false          // --with-doubles
) {
  /** bool-style split, mirroring `write.go:111-118` (exactly two parts):
    * trueValue = parts[0], falseValue = parts[1] — the reference's order. */
  def trueValue: String = boolStyle.split(",", 2)(0)
  def falseValue: String = {
    val parts = boolStyle.split(",", 2)
    require(parts.length == 2, s"invalid bool style: $boolStyle")
    parts(1)
  }
}
