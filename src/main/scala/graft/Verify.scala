package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // optional trailing query names: dump only those (targeted local
    // check while iterating — the driver always passes exactly 2 args)
    val only: String => Boolean =
      if (args.length > 2) args.drop(2).toSet else (_ => true)
    // the verify profile carries the bench's engine confs: the gate
    // must verify the configuration the bench actually runs
    val spark = Session.verify(sfDir)
    new java.io.File(outDir).mkdirs()
    // wipe the scratch root (file-round-trip queries write here)
    Scratch.wipe()
    SparkEntry.queries.filter(kv => only(kv._1)).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      finally spark.catalog.clearCache() // queries may cache; don't accumulate
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // Auto-sized queries whose oracle literal no longer matches at this
    // corpus size are dumped WITHOUT their oracle (→ rows-only check)
    // instead of producing a hash mismatch that reads as a correctness
    // bug. At every driver SF the set is empty.
    val downgrades =
      try SparkEntry.oracleDowngrades(spark, sfDir)
      catch { case e: Throwable =>
        System.err.println(s"[verify] downgrade probe failed: ${e.getMessage}")
        Set.empty[String]
      }
    downgrades.foreach(k => System.err.println(
      s"[verify] $k: auto-sized parameter departs from oracle literal at this corpus — dumped rows-only"))
    // q51's oracle reads the CSV artifact the engine just wrote under
    // the scratch root — but ANY later re-run of q51 at this SF (a Bench pass,
    // a probe tool, a manual Verify) deletes and rewrites that dir, and
    // the driver's DuckDB pass reads it from a separate process AFTER
    // this JVM exits (r7 ADVICE: the coupling spanned three entry points
    // held together by comments). Decouple at dump time: copy the part
    // files into a VERIFY-OWNED snapshot and point the substituted
    // oracle path there — later q51 re-runs can no longer clobber what
    // the oracle reads. A SIBLING of outDir, not inside it: the driver
    // treats every outDir subdirectory as a query's parquet result.
    val q51Dst = new java.io.File(s"${outDir.stripSuffix("/")}_q51_artifact").getAbsoluteFile
    try {
      val src = new java.io.File(Scratch.abs(graft.ops.Pipelines.q51ArtifactName(sfDir)))
      scala.reflect.io.Path(q51Dst).deleteRecursively()
      q51Dst.mkdirs()
      Option(src.listFiles()).getOrElse(Array.empty)
        .filter(_.getName.startsWith("part-"))
        .foreach(f => Files.copy(f.toPath, Paths.get(q51Dst.getPath, f.getName)))
    } catch { case e: Throwable =>
      System.err.println(s"[verify] q51 artifact snapshot failed: ${e.getMessage}")
    }
    // Same decoupling for the other engine-written artifacts the
    // oracles replay: the q197/q198 FFD allocation and the q199 OPQ
    // rotation — both are outputs of inherently sequential driver
    // algorithms (first-fit, Jacobi) that no SQL engine can recompute,
    // but whose derived arithmetic both engines replay exactly. The
    // builders are build-once, so a targeted run that skipped the face
    // still snapshots a valid artifact.
    def snapshot(tag: String, srcPath: => String): java.io.File = {
      val dst = new java.io.File(
        s"${outDir.stripSuffix("/")}_${tag}_artifact").getAbsoluteFile
      try {
        val src = new java.io.File(srcPath)
        scala.reflect.io.Path(dst).deleteRecursively()
        dst.mkdirs()
        Option(src.listFiles()).getOrElse(Array.empty)
          .filter(_.getName.startsWith("part-"))
          .foreach(f => Files.copy(f.toPath, Paths.get(dst.getPath, f.getName)))
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $tag artifact snapshot failed: ${e.getMessage}")
      }
      dst
    }
    val packDst = snapshot("q197", graft.ops.Sampling.packAllocDir(spark, sfDir))
    val rotDst = snapshot("q199", graft.ops.Similarity.opqRotationDir(spark, sfDir))
    val jsonlDst = snapshot("q204", Scratch.abs(graft.ops.Pipelines.q204ArtifactName(sfDir)))
    val ahashDst = snapshot("q205", graft.ops.Multimodal.ahashArtifactDir(spark, sfDir))
    val afpDst = snapshot("q207", graft.ops.Multimodal.audioFpArtifactDir(spark, sfDir))
    val json = SparkEntry.oracleSql.view
      .filterKeys(k => only(k) && !downgrades.contains(k)).toMap
      .map { case (k, v) =>
        val resolved = v.replace("__Q51_ARTIFACT__", q51Dst.getPath)
          .replace("__Q197_PACK__", packDst.getPath)
          .replace("__Q199_ROT__", rotDst.getPath)
          .replace("__Q204_JSONL__", jsonlDst.getPath)
          .replace("__Q205_AHASH__", ahashDst.getPath)
          .replace("__Q207_AFP__", afpDst.getPath)
        s"${q(k)}: ${q(resolved)}"
      }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
