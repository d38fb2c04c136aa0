package graft.streaming

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path, PathFilter}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.checkpointing.{
  CheckpointFileManager, FileSystemBasedCheckpointFileManager}

/** The checkpoint file manager of every [[Ingest]] stream, chosen by the
  * checkpoint path's scheme ([[SchemeCheckpointFileManager.fileSystemApi]]):
  *
  *  - `file`: Spark's `FileSystemBasedCheckpointFileManager`, which
  *    promotes a metadata file with `FileSystem.rename` (a plain
  *    `File.renameTo` on the local file system);
  *  - any other scheme: Spark's default choice, unchanged
  *    (`FileContextBasedCheckpointFileManager`, whose `FileContext`
  *    rename is the atomic one HDFS offers).
  *
  * Local disk leaves the default because its `FileContext` rename
  * forks `readlink` processes when the native Hadoop library is absent;
  * the measurements are on `Ingest.startStream`.
  *
  * Spark builds the manager by reflection from
  * `spark.sql.streaming.checkpointFileManagerClass` with this
  * `(Path, Configuration)` constructor; `Ingest.startStream` installs it
  * ([[SchemeCheckpointFileManager.install]]) only on a session that names
  * no manager, so the non-`file` branch is Spark's default there.
  */
class SchemeCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends CheckpointFileManager {

  private[graft] val delegate: CheckpointFileManager =
    if (SchemeCheckpointFileManager.fileSystemApi(path, hadoopConf))
      new FileSystemBasedCheckpointFileManager(path, hadoopConf)
    else {
      // Spark's own choice, made without this class installed
      val default = new Configuration(hadoopConf)
      default.unset(SchemeCheckpointFileManager.ClassKey)
      CheckpointFileManager.create(path, default)
    }

  override def createAtomic(path: Path, overwriteIfPossible: Boolean)
      : CheckpointFileManager.CancellableFSDataOutputStream =
    delegate.createAtomic(path, overwriteIfPossible)
  override def open(path: Path) = delegate.open(path)
  override def list(path: Path, filter: PathFilter): Array[FileStatus] =
    delegate.list(path, filter)
  override def list(path: Path): Array[FileStatus] = delegate.list(path)
  override def mkdirs(path: Path): Unit = delegate.mkdirs(path)
  override def exists(path: Path): Boolean = delegate.exists(path)
  override def delete(path: Path): Unit = delegate.delete(path)
  override def isLocal: Boolean = delegate.isLocal
  override def createCheckpointDirectory(): Path =
    delegate.createCheckpointDirectory()
  override def close(): Unit = delegate.close()
}

object SchemeCheckpointFileManager {

  /** The session setting Spark reads the manager class from. */
  private[streaming] val ClassKey =
    "spark.sql.streaming.checkpointFileManagerClass"

  /** Names this class as `spark`'s checkpoint manager, unless the
    * session already names one — read as Spark reads it, from the
    * session's Hadoop configuration, so a `spark.hadoop.` setting
    * counts too. A manager named there (this class or a deployment's
    * own, an object-store one say) is kept. */
  def install(spark: SparkSession): Unit =
    if (spark.sessionState.newHadoopConf().get(ClassKey) == null)
      spark.conf.set(ClassKey, classOf[SchemeCheckpointFileManager].getName)

  /** True when a checkpoint at `path` is written through the FileSystem
    * API: its scheme — or, for a path without one, the default file
    * system's — is `file`. A pure function of the path and `conf`; no
    * file system is contacted. */
  def fileSystemApi(path: Path, conf: Configuration): Boolean =
    Option(path.toUri.getScheme)
      .getOrElse(FileSystem.getDefaultUri(conf).getScheme) == "file"
}
