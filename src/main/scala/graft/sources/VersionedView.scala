package graft.sources

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Versioned, atomically-committed parquet views — the commit protocol a
  * persisted materialized view needs on object storage, where a job can
  * die mid-write and "directory rename" is not atomic across files:
  *
  *   - data for version v lands FIRST — under `<path>/v=<v>/` for a
  *     single-table view ([[commit]]), or wherever the marker body of a
  *     manifested root (ManifestedPartitions) points;
  *   - the marker `<path>/_commits/<v>` is written LAST, staged as a
  *     dotfile and moved ([[mark]]) or linked ([[tryMark]], the
  *     compare-and-swap form) into place atomically — the marker IS the
  *     commit point;
  *   - readers resolve `latestVersion` from the marker directory ONLY, so
  *     a torn write (data files present, no marker — the crash shape) is
  *     invisible, and any still-visible older version remains readable
  *     (time travel / snapshot isolation for long-running jobs).
  *
  * This is the single-table core of a manifest-based table format (same
  * commit-point discipline as Delta/Iceberg's log append); compaction of
  * old versions is the caller's retention policy. VersionedViewSpec pins
  * torn-commit invisibility, marker atomicity, and crashed-commit
  * completion (re-committing a staged version makes it visible).
  */
object VersionedView {

  /** Commit `df` as version `v` of the view at `path`: data first, marker
    * last. Re-running a crashed commit is safe — the data write is an
    * idempotent overwrite of `v=<v>` and the marker move replaces.
    */
  def commit(df: DataFrame, path: String, v: Long): Unit = {
    df.write.mode("overwrite").parquet(s"$path/v=$v")
    mark(path, v)
  }

  /** All COMMITTED versions, ascending (marker-backed only). */
  def committedVersions(path: String): Seq[Long] = {
    import scala.jdk.CollectionConverters._
    val commits = Paths.get(path, "_commits")
    if (!Files.isDirectory(commits)) return Nil
    val st = Files.list(commits)
    val vs = try st.iterator().asScala
      .map(_.getFileName.toString)
      .filter(_.matches("\\d+"))
      .map(_.toLong).toSeq
    finally st.close()
    vs.sorted
  }

  /** RETENTION GC (r15 verdict order #5): keep the newest `keepLast`
    * committed versions, physically delete everything below the horizon.
    * Order is marker FIRST, data second — the marker delete is the
    * "retire" point, so a reader racing the expiry (or arriving after a
    * crash mid-expiry) fails the [[readVersion]] commit check LOUDLY
    * instead of silently serving a half-deleted snapshot. Returns the
    * expired versions, ascending.
    */
  def expire(path: String, keepLast: Int): Seq[Long] = {
    require(keepLast >= 1, s"keepLast must be >= 1, got $keepLast")
    expireExact(path, committedVersions(path).dropRight(keepLast))
  }

  /** Expire an EXPLICIT version list: each marker, then its `v=<v>` data
    * directory (absent on a manifested root, whose data ManifestedPartitions
    * GCs itself). A caller that planned its GC against a captured snapshot
    * must use this form — recomputing the horizon here from
    * `committedVersions` would race a concurrent writer's commit. Plan and
    * deletion share ONE snapshot.
    */
  def expireExact(path: String, dead: Seq[Long]): Seq[Long] = {
    dead.foreach { v =>
      Files.deleteIfExists(Paths.get(path, "_commits", v.toString))
      Dirs.delete(Paths.get(path, s"v=$v"))
    }
    dead
  }

  /** Write version `v`'s marker alone — the second half of a commit,
    * usable to complete a crashed one whose data files already landed.
    */
  def mark(path: String, v: Long): Unit = {
    val commits = Paths.get(path, "_commits")
    Files.createDirectories(commits)
    val staging = commits.resolve(s".$v.staging")
    Files.writeString(staging, v.toString)
    Files.move(staging, commits.resolve(v.toString),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  /** COMPARE-AND-SWAP marker write — the optimistic-concurrency commit
    * point for RACING writers (two maintenance jobs staging against the
    * same snapshot must not lose either's update; marker-replace would
    * silently drop the first winner's commit). The marker is staged as a
    * dotfile and installed with `Files.createLink` — the POSIX link(2)
    * call fails ATOMICALLY with EEXIST if the target exists, the
    * classic lockfile CAS (an object-store deployment uses
    * put-if-absent the same way). Returns true iff THIS writer won
    * version `v`; on false the caller re-reads the new snapshot,
    * re-stages its maintenance on top of it, and retries at v+1 — its
    * staged generation is simply garbage until then. `body` lets an
    * index commit embed its manifest IN the marker, making
    * {data-pointer set, commit point} one atomic object.
    */
  def tryMark(path: String, v: Long, body: String = ""): Boolean = {
    val commits = Paths.get(path, "_commits")
    Files.createDirectories(commits)
    // WRITER-UNIQUE staging file (ADVICE r16): with a single shared
    // staging path, the committed marker is a hard link to the staging
    // INODE — a losing racer's truncating rewrite of that shared path
    // would silently replace the winner's already-committed body (on the
    // OCC path the body IS the manifest: the exact lost update the CAS
    // exists to prevent), and its cleanup delete could race the winner
    // between write and link. Each writer stages under its own nonce and
    // deletes only its own file; the marker name stays the CAS point.
    val staging = commits.resolve(
      s".$v.${java.util.UUID.randomUUID()}.occ.staging")
    Files.writeString(staging, if (body.isEmpty) v.toString else body)
    try {
      Files.createLink(commits.resolve(v.toString), staging)
      true
    } catch {
      case _: java.nio.file.FileAlreadyExistsException => false
    } finally Files.deleteIfExists(staging)
  }

  /** The committed marker's content: the version number for a
    * single-table view, the manifests and sidecars of a manifested root.
    */
  def markerBody(path: String, v: Long): String = {
    val marker = Paths.get(path, "_commits", v.toString)
    require(Files.exists(marker), s"version $v of $path is not committed")
    Files.readString(marker)
  }

  /** The newest COMMITTED version (marker-backed only; staged dotfiles and
    * torn data dirs are invisible). None if nothing committed yet.
    */
  def latestVersion(path: String): Option[Long] =
    committedVersions(path).lastOption

  /** The version a read serves: `version` if pinned, else the newest
    * committed one (IllegalStateException if nothing is committed).
    */
  def resolve(path: String, version: Option[Long] = None): Long =
    version.orElse(latestVersion(path)).getOrElse(
      throw new IllegalStateException(s"no committed version at $path"))

  /** Snapshot read of one committed version. */
  def readVersion(spark: SparkSession, path: String, v: Long): DataFrame = {
    require(latestVersion(path).exists(_ >= v) &&
      Files.exists(Paths.get(path, "_commits", v.toString)),
      s"version $v of $path is not committed")
    spark.read.parquet(s"$path/v=$v")
  }

  /** Read the latest committed version (the production entry point). */
  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(s"$path/v=${resolve(path)}")
}
