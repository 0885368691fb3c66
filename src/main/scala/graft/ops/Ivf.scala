package graft.ops

import graft.{Scratch, Tables}
import graft.functions.VectorExprs.vecDot
import org.apache.spark.sql.{Column, DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The int8 IVF index: every decision the ANN faces share, owned once.
  *
  *  - quantize: [[quantizeInt8]] and the build-once quantized corpus
  *    [[quantizedEmbeddings]] (columns `vec_id`, `q8`).
  *  - grids (`cent_id`, `cq`): the bounded [[fixedCells]] anchors and the
  *    [[strideCells]] grid, whose √n [[stride]] takes n from its caller.
  *  - routing: [[assignCells]] (argmax cell) and [[assignCellsTopP]]
  *    (ranked top-p cells), broadcast-argmax maps with no fan-out.
  *  - cell layout: [[writeCells]], one file per `cent_id=` dir.
  *  - search: the [[probes]] set, candidate dots ([[exactDots]] brute,
  *    [[probeDots]] cell-restricted), the exact [[topK]] rank rule and
  *    [[recall]] in integer ppm.
  *
  * Every comparison is an exact integer: dots of int8 codes are
  * ≤ 64·127², exact in double and order-independent, so routing and
  * ranking have no float ties and every face replays in DuckDB. */
object Ivf {

  /** Int8 symmetric quantization of the embedding column: per-vector
    * scale 127/max|x|, q_i = floor(x_i·127/max|x| + 0.5). `floor(+0.5)`,
    * NOT `round()`: Spark rounds HALF_UP and DuckDB HALF_EVEN, so an
    * exact .5 would diverge — floor is identical everywhere, and the
    * asymmetry at negative .5 is the same on both engines. The all-zero
    * vector quantizes to zeros (no 0/0). Values stay exact small
    * integers, carried as array<double> so the codegen'd
    * [[graft.functions.VectorExprs]] dot kernel applies. */
  def quantizeInt8(e: DataFrame): DataFrame =
    e.withColumn("_ma",
        array_max(transform(col("embedding"), x => abs(x.cast("double")))))
      .withColumn("q8", transform(col("embedding"), x =>
        when(col("_ma") > 0,
          floor(x.cast("double") * lit(127.0) / col("_ma") + lit(0.5)).cast("double"))
          .otherwise(lit(0.0))))
      .drop("_ma")

  /** The int8-quantized corpus (`vec_id`, `q8`), served as a plain scan
    * of a persisted artifact quantized once per source content
    * (fingerprint-keyed, so regenerated testdata keys a fresh one).
    * [[quantizeInt8]]'s `transform` is CodegenFallback: without this
    * materialization barrier Spark collapses the quantize projection
    * into the consumers' joins and re-runs the interpreted lambda per
    * (vector × anchor) pair (the r11 sf1 probes measured q143 at
    * 88-171 s and q144 at 242 s from exactly that). The int-valued
    * doubles round-trip parquet exactly, so the gate hashes prove the
    * disk leg lossless. */
  def quantizedEmbeddings(s: SparkSession, d: String): DataFrame =
    s.read.parquet(quantizedArtifact(s, d))

  /** Build-once path of [[quantizedEmbeddings]]. The repartition
    * before the write matters: the source is one compact parquet split,
    * so without it the artifact would be one file and every downstream
    * scan single-threaded (r11: q126 sf10 512 s); with it the artifact
    * carries session-width files and scans parallel. */
  private def quantizedArtifact(s: SparkSession, d: String): String =
    Scratch.artifact(s"quant8_${Tables.sourceFingerprint(d, "embeddings")}") { dir =>
      quantizeInt8(Tables.embeddings(s, d)).select(col("vec_id"), col("q8"))
        .repartition(s.conf.get("spark.sql.shuffle.partitions").toInt)
        .write.mode("overwrite").parquet(s"$dir/q8")
    } + "/q8"

  // ---------------------------------------------------------------------
  // grids: (cent_id, cq) anchor tables
  // ---------------------------------------------------------------------

  /** The fixed 64-cell anchor grid: every 100th quantized vector below
    * 6400 — the literal the oracles replay. The bound keeps decade
    * corpora at n × 64 routing work instead of n × n/100. */
  def fixedCells(qe: DataFrame): DataFrame =
    qe.where(col("vec_id") % 100 === 0 && col("vec_id") < 6400)
      .select(col("vec_id").as("cent_id"), col("q8").as("cq"))

  /** The grid stride: `pinned` when > 0 (the gate faces pin 100 for
    * oracle parity), else ≈ √n with n from the caller — the rows the
    * grid is drawn from, which is not always the whole corpus (q126
    * grids its existing slice). Cells ≈ √n keep routing and in-cell
    * search at n^1.5; a fixed stride makes cells ∝ n and routing
    * n²/stride (the r10 sf10 knee: 180 s at n = 200k). `n` is only
    * evaluated when the stride is not pinned. */
  def stride(pinned: Int, n: => Long): Int =
    if (pinned > 0) pinned
    else math.max(2, math.round(math.sqrt(n.toDouble)).toInt)

  /** The stride grid: every row of `qe` with `vec_id % stride = 1`
    * anchors a cell (size the stride with [[stride]]). */
  def strideCells(qe: DataFrame, stride: Int): DataFrame =
    qe.where(col("vec_id") % stride === 1)
      .select(col("vec_id").as("cent_id"), col("q8").as("cq"))

  // ---------------------------------------------------------------------
  // routing
  // ---------------------------------------------------------------------

  /** Centroid-count ceiling for the broadcast grid: every caller's grid
    * is ≤ 64 anchors or ≈ √n stride rows, so 2²⁰ cells (≈ 512 MB of
    * 64-dim doubles — the broadcast budget, and n ≈ 10¹² at cells = √n)
    * is far above any intended geometry; a grid past it means a caller
    * lost its bound and should use the join-regime assignment instead.
    * The guard also keeps `cells × dims` safely inside Int for the flat
    * array allocation and the `c * dims` index arithmetic. */
  val MaxBroadcastCells: Int = 1 << 20

  /** Collect + flatten + broadcast one centroid grid (`cent_id`, `cq`),
    * memoized per (session, content) via [[SharedPlans.cachedBroadcast]]:
    * a fresh broadcast per call leaks BlockManager blocks across q161's
    * waves and repeated bench passes, so the key is an MD5 over ids +
    * dims + flat values and live broadcasts stay bounded by the number
    * of distinct grids a session builds. */
  private def centroidBroadcast(s: SparkSession, cent: DataFrame)
      : org.apache.spark.broadcast.Broadcast[graft.functions.CentroidMatrix] = {
    val rows = cent.select(col("cent_id"), col("cq")).collect()
    require(rows.nonEmpty, "assignCells: empty centroid table")
    require(rows.length <= MaxBroadcastCells,
      s"assignCells: ${rows.length} centroids exceeds the broadcast-grid " +
        s"ceiling ($MaxBroadcastCells) — use a bounded/√n grid or the " +
        "join-regime assignment (kmeansAssign viaJoin) for grids this large")
    val sorted = rows.sortBy(_.getLong(0))
    val dims = sorted.map(_.getSeq[Double](1).length).max
    val flatLen = math.multiplyExact(sorted.length, dims) // overflow-guarded
    val ids = sorted.map(_.getLong(0))
    val flat = new Array[Double](flatLen)
    var c = 0
    while (c < sorted.length) {
      val v = sorted(c).getSeq[Double](1)
      var j = 0
      while (j < v.length) { flat(c * dims + j) = v(j); j += 1 }
      c += 1
    }
    val md = java.security.MessageDigest.getInstance("MD5")
    val bb = java.nio.ByteBuffer.allocate(8 * (ids.length + flat.length) + 4)
    bb.putInt(dims); ids.foreach(bb.putLong); flat.foreach(bb.putDouble)
    val key = "centMatrix|" + md.digest(bb.array())
      .map("%02x".format(_)).mkString
    SharedPlans.cachedBroadcast(s, key)(
      s.sparkContext.broadcast(graft.functions.CentroidMatrix(ids, flat, dims)))
  }

  /** Appends `cent_id`, the argmax integer-dot cell of each row's `q8`
    * (ties to the smallest cent_id), via the codegen'd
    * [[graft.functions.ArgmaxExprs.ArgmaxDotCell]] over the broadcast
    * grid: a pure map over the scan — n rows in, n out, no join,
    * aggregate, exchange or sort (the n×cells fan-out it replaced is
    * n^1.5 rows at cells ∝ √n). The grid is collected driver-side, so
    * callers keep it bounded ([[MaxBroadcastCells]]). */
  def assignCells(s: SparkSession, qe: DataFrame, cent: DataFrame): DataFrame = {
    val bc = centroidBroadcast(s, cent)
    qe.withColumn("cent_id", GraftBridge.column(
      graft.functions.ArgmaxExprs.ArgmaxDotCell(GraftBridge.expression(col("q8")), bc)))
  }

  /** Multi-probe routing: appends `probe_cells`, the top-`p` cent_ids by
    * integer dot ordered (dot desc, cent_id asc), via the codegen'd
    * [[graft.functions.ArgmaxExprs.TopPDotCells]] map. Same zero-fanout
    * shape as [[assignCells]] (p = 1 degenerates to it exactly); the
    * probe side explodes to p rows per query, never per corpus vector. */
  def assignCellsTopP(s: SparkSession, qe: DataFrame, cent: DataFrame,
      p: Int): DataFrame = {
    val bc = centroidBroadcast(s, cent)
    qe.withColumn("probe_cells", GraftBridge.column(
      graft.functions.ArgmaxExprs.TopPDotCells(GraftBridge.expression(col("q8")), bc, p)))
  }

  // ---------------------------------------------------------------------
  // cell layout
  // ---------------------------------------------------------------------

  /** Writes routed rows in the index's on-disk layout: `cent_id=` dirs
    * with ONE file per cell. "A batch touching c cells reads c cells'
    * worth of codes" holds on disk, so a broadcast join on `cent_id`
    * prunes partitions; the repartition by cell comes first, because
    * otherwise every write task opens a file in every cell dir
    * (tasks × cells small files — the r11 sf10 write blow-up). */
  def writeCells(routed: DataFrame, path: String, mode: String = "overwrite"): Unit =
    routed.repartition(col("cent_id")).write.mode(mode)
      .partitionBy("cent_id").parquet(path)

  // ---------------------------------------------------------------------
  // search: probe set, candidate dots, exact top-k, recall
  // ---------------------------------------------------------------------

  /** The probe set every top-k face queries with: ids below 5 (`id`
    * names the id column; documents share the vector id space). */
  def probes(df: DataFrame, id: String = "vec_id"): DataFrame = df.where(col(id) < 5)

  /** (qid, cid, carry…, dot) over probe × vector pairs. */
  private def scored(pairs: DataFrame, carry: Seq[Column]): DataFrame =
    pairs.select((Seq(col("qid"), col("vec_id").as("cid")) ++ carry :+
      vecDot(col("qv"), col("q8")).cast("long").as("dot")): _*)

  /** Brute-force candidates: every probe of `qe` against every OTHER
    * vector, as (qid, cid, carry…, dot). The probe side is broadcast and
    * the corpus streams once. */
  def exactDots(qe: DataFrame, carry: Column*): DataFrame = {
    val q = probes(qe).select(col("vec_id").as("qid"), col("q8").as("qv"))
    scored(qe.join(broadcast(q), col("vec_id") =!= col("qid")), carry)
  }

  /** Cell-restricted candidates: routed probes (qid, qv, qcell) meet
    * the vectors of `assigned` (vec_id, q8, cent_id) in their cells, the
    * probe itself excluded, as (qid, cid, carry…, dot). A vector meets a
    * query at most once per distinct probe cell. */
  def probeDots(assigned: DataFrame, probes: DataFrame, carry: Column*): DataFrame =
    scored(assigned.join(broadcast(probes),
      col("cent_id") === col("qcell") && col("vec_id") =!= col("qid")), carry)

  /** The exact-integer top-k: per (keys…, qid) group, candidates rank
    * by dot desc with ties to the smaller cid (`rank`, 1-based), and
    * rank ≤ k survives. Integer dots make the boundary deterministic. */
  def topK(cands: DataFrame, k: Int, keys: String*): DataFrame = {
    val w = Window.partitionBy((keys :+ "qid").map(col): _*)
      .orderBy(col("dot").desc, col("cid").asc)
    cands.withColumn("rank", row_number().over(w)).where(col("rank") <= k)
  }

  /** Recall in integer ppm, `(1000000 * hit) div truth`. */
  def recallPpm(hit: String = "n_hit", truth: String = "n_truth"): Column =
    expr(s"(1000000 * $hit) div $truth")

  /** `truth` (keys…, n_truth, …) joined with `hits` (keys…, n_hit): a
    * group with no hit reads n_hit = 0, and `recall_ppm` is appended. */
  def recall(truth: DataFrame, hits: DataFrame, keys: String*): DataFrame =
    truth.join(hits, keys, "left")
      .withColumn("n_hit", coalesce(col("n_hit"), lit(0L)))
      .withColumn("recall_ppm", recallPpm())
}
