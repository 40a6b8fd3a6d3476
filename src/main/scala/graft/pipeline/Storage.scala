package graft.pipeline

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.execution.datasources.parquet.ParquetReadSupport
import org.apache.spark.sql.types.{DataType, StructType}
import scala.jdk.CollectionConverters._

/** Storage control plane over the Hadoop FileSystem API — one code path
  * for s3a:// and file:// alike (replaces the reference's boto3
  * side-channel, SURVEY.md §4.3):
  *  - dataset existence probes (ref py:156-184)
  *  - per-file checkpoint markers (ref py:237-276), read back as one
  *    listing per resume decision
  *  - staged-file enumeration (ref py:279-300)
  *  - parquet footers — row count AND the writer's Spark schema from
  *    one metadata read: progress accounting without re-scanning data
  *    (the reference re-reads and count()s every file, py:317-325) and
  *    staged reads without a schema-inference job.
  */
final class Storage(conf: Configuration) {

  private def fs(p: Path): FileSystem = p.getFileSystem(conf)

  /** C1 — "does any *.parquet exist under prefix?" */
  def datasetExists(dir: String): Boolean = {
    val p = new Path(dir)
    val f = fs(p)
    f.exists(p) && f.globStatus(new Path(p, "*.parquet")).nonEmpty
  }

  /** C5 — enumerate staged parquet files (sorted for determinism). */
  def listParquet(dir: String): Seq[String] = {
    val p = new Path(dir)
    val f = fs(p)
    if (!f.exists(p)) Seq.empty
    else f.globStatus(new Path(p, "*.parquet")).map(_.getPath.toString).sorted.toSeq
  }

  /** C2 — checkpoint marker path convention. */
  def checkpointMarker(checkpointDir: String, fileName: String): Path =
    new Path(checkpointDir, s"$fileName.checkpoint")

  /** C3 — zero-byte marker after a successful per-file load. */
  def createCheckpoint(checkpointDir: String, fileName: String): Unit = {
    val m = checkpointMarker(checkpointDir, fileName)
    val f = fs(m)
    f.mkdirs(m.getParent)
    f.create(m, true).close()
  }

  /** C4 — names of the already-loaded files under `checkpointDir`, from
    * ONE listing (a missing directory means nothing is loaded yet).
    * Checksum sidecars and anything else that is not a marker are
    * ignored. */
  def checkpointed(checkpointDir: String): Set[String] = {
    val p = new Path(checkpointDir)
    try fs(p).listStatus(p).iterator
      .collect { case st if st.isFile && st.getPath.getName.endsWith(".checkpoint") =>
        st.getPath.getName.stripSuffix(".checkpoint") }
      .toSet
    catch { case _: java.io.FileNotFoundException => Set.empty }
  }

  /** C4 — has this one file already been loaded? */
  def checkpointExists(checkpointDir: String, fileName: String): Boolean = {
    val m = checkpointMarker(checkpointDir, fileName)
    fs(m).exists(m)
  }

  def delete(dir: String): Unit = {
    val p = new Path(dir)
    val f = fs(p)
    if (f.exists(p)) { f.delete(p, true); () }
  }

  /** One footer read, no data read: the file's row count (summed over
    * its row groups) and the Spark schema its writer stored under
    * [[ParquetReadSupport.SPARK_METADATA_KEY]] (None for a file not
    * written by Spark). Read options come from `conf`: the one-argument
    * `ParquetFileReader.open(file)` builds them over a fresh default
    * Hadoop `Configuration` on every call, which cost more than the
    * footer read itself. */
  def footer(file: String): (Long, Option[StructType]) = {
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(file), conf),
      HadoopReadOptions.builder(conf).build())
    try {
      val meta = r.getFooter
      (meta.getBlocks.asScala.map(_.getRowCount).sum,
        Option(meta.getFileMetaData.getKeyValueMetaData
          .get(ParquetReadSupport.SPARK_METADATA_KEY))
          .map(DataType.fromJson(_).asInstanceOf[StructType]))
    } finally r.close()
  }
}

/** Exclusive per-workspace lease, arbitrating concurrent jobs that
  * share one staging workspace (two schedulers launching the same job,
  * a retry racing its hung predecessor). The workspace directories are
  * a fault domain — staged datasets, checkpoint markers, catalog
  * tables all key on it — so two writers interleaving is undefined;
  * the lease makes the second writer fail fast instead.
  *
  * Mechanics: atomic create-if-absent of `_LEASE` under the workspace
  * (atomic on HDFS and file:// — object stores need a conditional-put
  * or an external lock service; same caveat as every marker-file
  * protocol). A holder that dies without releasing is taken over once
  * the marker's mtime is older than `ttlMs`; live holders call
  * [[renew]] between units of work to keep the mtime fresh.
  */
final class WorkspaceLease(
    conf: Configuration,
    workspace: String,
    ttlMs: Long = 15 * 60 * 1000) {

  private val path = new Path(workspace, "_LEASE")
  private def fs: FileSystem = path.getFileSystem(conf)
  val holderId: String = java.util.UUID.randomUUID().toString

  /** Create-if-absent — the atomic point of the protocol. HDFS
    * `create(overwrite=false)` is atomic at the namenode, but the
    * LOCAL FileSystem implements it as exists-then-create (two racing
    * writers can both "win"), so file:// goes through O_CREAT|O_EXCL
    * instead. */
  private def createExclusive(f: FileSystem): Boolean =
    if (f.getScheme == "file") {
      try {
        java.nio.file.Files.write(
          java.nio.file.Paths.get(path.toUri.getPath),
          holderId.getBytes("UTF-8"),
          java.nio.file.StandardOpenOption.CREATE_NEW)
        true
      } catch { case _: java.nio.file.FileAlreadyExistsException => false }
    } else {
      try {
        val out = f.create(path, false)
        try out.write(holderId.getBytes("UTF-8")) finally out.close()
        true
      } catch { case _: java.io.IOException => false }
    }

  /** One attempt; false when a live (unexpired) holder exists. */
  def tryAcquire(): Boolean = {
    val f = fs
    f.mkdirs(path.getParent)
    if (createExclusive(f)) true
    else {
      val expired =
        try System.currentTimeMillis() - f.getFileStatus(path).getModificationTime > ttlMs
        catch { case _: java.io.FileNotFoundException => true } // released in between
      if (expired) { f.delete(path, false); tryAcquire() } else false
    }
  }

  def currentHolder(): Option[String] =
    try {
      val in = fs.open(path)
      try Some(new String(org.apache.hadoop.io.IOUtils.readFullyToByteArray(in), "UTF-8"))
      finally in.close()
    } catch { case _: java.io.IOException => None }

  def isHeld: Boolean = currentHolder().contains(holderId)

  /** Heartbeat: bump the marker's mtime so the TTL window restarts. */
  def renew(): Unit = if (isHeld) fs.setTimes(path, System.currentTimeMillis(), -1)

  /** Release only if still ours (a TTL takeover may have replaced us). */
  def release(): Unit = if (isHeld) { fs.delete(path, false); () }
}

/** C6 — retry with exponential backoff (ref py:19-36: 3 attempts, 5 s
  * initial delay, ×2; catches everything, re-raises after exhaustion).
  */
object Retry {
  def retry[T](
      attempts: Int = 3,
      initialDelayMs: Long = 5000,
      backoff: Double = 2.0,
      onRetry: (Int, Throwable) => Unit = (_, _) => ())(thunk: => T): T = {
    var delay = initialDelayMs
    var last: Throwable = null
    var i = 0
    while (i < attempts) {
      try return thunk
      catch {
        case t: Throwable =>
          last = t
          i += 1
          if (i < attempts) {
            onRetry(i, t)
            Thread.sleep(delay)
            delay = (delay * backoff).toLong
          }
      }
    }
    throw last
  }
}
