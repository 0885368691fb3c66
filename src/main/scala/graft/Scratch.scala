package graft

import java.io.{File, IOException}
import java.nio.file.{Files, StandardCopyOption}
import java.util.concurrent.ConcurrentHashMap
import org.apache.hadoop.fs.{FileSystem, Path}

/** Every decision about scratch files: where they live, the three
  * kinds of dir under the root, and how a stream's input waves are
  * delivered (README "Scratch and artifacts").
  *  - [[fresh]]: a fixed per-query dir, cleared on entry;
  *  - [[artifact]]: a build-once dir, committed by an `_OK` marker;
  *  - [[withWorkDir]]: a private UUID-named dir, deleted after use;
  *  - [[stageWaves]]: staged waves moved into a stream's input dir;
  *  - [[dataFiles]]: the data-file count of a written layout.
  * A dir name never changes with the code that writes it, so a warm
  * root keeps serving across builds; a format change bumps the
  * artifact key's version tag instead. */
object Scratch {

  /** The scratch root, relative to the working directory. */
  val Root = "target/tmp"

  /** `name` under [[Root]]. */
  def path(name: String): String = s"$Root/$name"

  /** Absolute form of [[path]], for a reader that does not share this
    * working directory (the DuckDB oracle, a JDBC URL). */
  def abs(name: String): String = new File(path(name)).getAbsolutePath

  /** `name` under [[Root]] for a plain file, with the root created:
    * Derby creates its log file but not the file's parent. */
  def file(name: String): String = {
    new File(Root).mkdirs()
    path(name)
  }

  /** A fixed per-query dir, CLEARED ON ENTRY: repeated runs can't
    * accumulate sink/state data, and a stale streaming checkpoint can't
    * mark the input already processed. Safe because each gate query
    * materializes its result before the next run of the same query
    * re-enters. */
  def fresh(name: String): String = {
    val dir = path(name)
    delete(dir)
    dir
  }

  private val locks = new ConcurrentHashMap[String, AnyRef]()

  /** The build-once artifact dir `key` under [[Root]]. A dir holding
    * `_OK` is served as it stands; any other is deleted, written by
    * `build(dir)` and then marked `_OK`, so a crashed half-write never
    * serves. The marker is checked under one lock per key: concurrent
    * callers of a key build it once, and different keys build in
    * parallel. `refresh` rebuilds a committed dir too, for a face whose
    * measured cost is the build. The key carries everything the
    * contents are a function of: the source fingerprint, and a version
    * tag bumped on any change to the written format. */
  def artifact(key: String, refresh: Boolean = false)(build: String => Unit): String = {
    val dir = path(key)
    locks.computeIfAbsent(key, _ => new AnyRef).synchronized {
      val ok = new File(dir, "_OK")
      if (refresh || !ok.exists()) {
        delete(dir)
        build(dir)
        new File(dir).mkdirs()
        ok.createNewFile()
      }
    }
    dir
  }

  /** A private dir `prefix_<8 hex>` under [[Root]], unique per call. */
  def unique(prefix: String): String =
    path(s"${prefix}_${java.util.UUID.randomUUID().toString.take(8)}")

  /** Runs `body` in a fresh [[unique]] dir, deleted afterwards whether
    * `body` returns or throws. */
  def withWorkDir[A](prefix: String)(body: String => A): A = {
    val dir = unique(prefix)
    try body(dir) finally delete(dir)
  }

  /** Recursive dir clone, the work copy of a mutating face: HARDLINKS
    * files where the filesystem allows (O(files), not O(bytes)), else
    * copies bytes. Safe because every mutation in this codebase
    * replaces files, never edits them in place: a partition overwrite
    * unlinks the old part files (the source keeps its inodes) and
    * writes fresh ones. */
  def cloneDir(src: String, dst: String): Unit = {
    val sp = new File(src).toPath; val dp = new File(dst).toPath
    val walk = Files.walk(sp)
    try walk.forEach { p =>
      val t = dp.resolve(sp.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else {
        Files.createDirectories(t.getParent)
        try Files.createLink(t, p)
        catch {
          case _: UnsupportedOperationException | _: java.io.IOException =>
            Files.copy(p, t, StandardCopyOption.REPLACE_EXISTING)
        }
      }
    } finally walk.close()
  }

  /** The modification time of wave 0 in [[stageWaves]]; wave `i` gets
    * `WaveT0 + i * WaveStepMs`. */
  private val WaveT0 = 1700000000000L
  private val WaveStepMs = 600000L

  /** Delivers ordered waves into `dir`, the input of a file stream
    * source: each of `stages` must hold exactly one `part-` file (one
    * file per wave), which is moved into `dir` with `fs.rename` and
    * stamped with a strictly increasing modification time per wave.
    * The file source orders new files by modification time, and files
    * written back to back can tie on it, so the stamp is what fixes
    * the order. Every wave is checked before the first one moves, and
    * a move that fails throws: a wave left behind would otherwise be a
    * micro-batch silently missing. */
  def stageWaves(fs: FileSystem, stages: Seq[String], dir: String): Unit = {
    val files = stages.zipWithIndex.map { case (stage, i) =>
      val parts = fs.listStatus(new Path(stage)).map(_.getPath)
        .filter(_.getName.startsWith("part-"))
      if (parts.length != 1)
        throw new IOException(s"wave $i: expected one part file in $stage, found ${parts.length}")
      parts.head
    }
    val into = new Path(dir)
    fs.mkdirs(into)
    files.zipWithIndex.foreach { case (src, i) =>
      val dst = new Path(into, src.getName)
      if (!fs.rename(src, dst))
        throw new IOException(s"wave $i: move failed for $src")
      fs.setTimes(dst, WaveT0 + i * WaveStepMs, -1)
    }
  }

  /** The number of data files a reader of `dir` scans: the files under
    * it, recursively, less hidden ones (a name starting with `_` or `.`:
    * `_SUCCESS`, `_OK`, checksums, a `_spark_metadata` log), the rule of
    * Spark's file index. The one rule behind every "files in this layout"
    * number a receipt reports. */
  def dataFiles(fs: FileSystem, dir: String): Long = {
    def walk(p: Path): Long = fs.listStatus(p).iterator
      .filterNot(st => st.getPath.getName.startsWith("_") || st.getPath.getName.startsWith("."))
      .map(st => if (st.isDirectory) walk(st.getPath) else 1L)
      .sum
    walk(new Path(dir))
  }

  /** Deletes the whole root. */
  def wipe(): Unit = delete(Root)

  /** Deletes every dir directly under the root whose name starts with
    * `prefix`. */
  def sweep(prefix: String): Unit =
    Option(new File(Root).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith(prefix))
      .foreach(f => delete(f.getPath))

  private def delete(p: String): Unit = {
    scala.reflect.io.Path(p).deleteRecursively()
    ()
  }
}
