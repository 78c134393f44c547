package graft.pipeline

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import java.nio.charset.StandardCharsets

/** Per-partition commit manifest — the Iceberg-facing contract behind a
  * trait (no Iceberg runtime jar exists in this sandbox, BASELINE.md):
  * partitioned output, per-partition snapshot commit with lineage +
  * row-count/byte metrics, idempotent resume from the last committed
  * partition. A real Iceberg catalog is a drop-in replacement for
  * [[HadoopManifestCatalog]] (swap commit/committed for snapshot
  * commit/scan).
  */
trait TranscriptCatalog {
  /** Buckets already durably committed for this output table. */
  def committedBuckets(): Set[Int]
  /** Atomically commit one bucket with its lineage + metrics. */
  def commit(entry: ManifestEntry): Unit
}

/** One committed bucket's lineage record. `rows`/`bytes` are an exact
  * aggregate over the bucket's written files (`bytes` = sum of the
  * extracted payload's `nBytes`).
  */
final case class ManifestEntry(
    bucket: Int,
    rows: Long,
    bytes: Long,
    inputFingerprint: String,
    version: String)

object ManifestEntry {
  def toJson(e: ManifestEntry): String =
    s"""{"bucket":${e.bucket},"rows":${e.rows},"bytes":${e.bytes},""" +
      s""""inputFingerprint":"${graft.App.escape(e.inputFingerprint)}",""" +
      s""""version":"${graft.App.escape(e.version)}"}"""
}

/** Hadoop-FS manifest: one JSON file per bucket under `_manifest/`,
  * committed by atomic rename (write to `_tmp`, then rename — the same
  * commit primitive Hadoop output committers rely on). Works on local FS
  * here and on HDFS/object stores with atomic rename semantics at scale.
  * Nothing is removed before the rename, so no crash point leaves a
  * committed bucket without its manifest file.
  */
final class HadoopManifestCatalog(outDir: String, conf: Configuration)
    extends TranscriptCatalog {

  private val manifestDir = new Path(outDir, "_manifest")

  private def fs: FileSystem = manifestDir.getFileSystem(conf)

  override def committedBuckets(): Set[Int] = {
    val f = fs
    if (!f.exists(manifestDir)) return Set.empty
    f.listStatus(manifestDir).iterator
      .map(_.getPath.getName)
      .collect { case n if n.startsWith("bucket-") && n.endsWith(".json") =>
        n.stripPrefix("bucket-").stripSuffix(".json").toInt
      }
      .toSet
  }

  override def commit(entry: ManifestEntry): Unit = {
    val f = fs
    f.mkdirs(manifestDir)
    val tmp = new Path(manifestDir, f"bucket-${entry.bucket}%05d.json._tmp")
    val dst = new Path(manifestDir, f"bucket-${entry.bucket}%05d.json")
    val out = f.create(tmp, true)
    try out.write(ManifestEntry.toJson(entry).getBytes(StandardCharsets.UTF_8))
    finally out.close()
    // `runCheckpointed` commits only uncommitted buckets. On a re-commit
    // the rename decides: Hadoop's LocalFileSystem replaces `dst`; HDFS
    // and the Hive local FS on Spark's classpath refuse, and the
    // IOException below reports it with the old record intact.
    if (!f.rename(tmp, dst)) {
      throw new java.io.IOException(s"manifest commit failed for $dst")
    }
  }
}
