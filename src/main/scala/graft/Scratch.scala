package graft

import java.io.File
import java.nio.file.{Files, StandardCopyOption}
import java.util.concurrent.ConcurrentHashMap

/** Every decision about scratch files: where they live, and the three
  * kinds of dir under the root (README "Scratch and artifacts").
  *  - [[fresh]]: a fixed per-query dir, cleared on entry;
  *  - [[artifact]]: a build-once dir, committed by an `_OK` marker;
  *  - [[withWorkDir]]: a private UUID-named dir, deleted after use.
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
