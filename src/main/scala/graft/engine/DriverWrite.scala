package graft.engine

import java.util.UUID
import java.util.concurrent.{Callable, ExecutionException}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{Job, JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType

/** Parquet files written from the driver by Spark's own writer: the
  * `OutputWriterFactory` that `ParquetFileFormat.prepareWrite` builds for a
  * Spark write job, with the same options, schema and Hadoop conf, driven
  * with no Spark job. For rows that already live on the driver ([[UnitDb.sync]]'s
  * buffers), so they never cross into Spark's encoders, scheduler or
  * shuffle.
  *
  * @param opts       the writer options a `DataFrameWriter` would be given
  * @param dataSchema the file schema: the written columns, without the
  *                   partition columns the directory names carry */
private[engine] final class DriverWriter(spark: SparkSession, opts: Map[String, String],
    dataSchema: StructType) {
  private val job = Job.getInstance(spark.sessionState.newHadoopConfWithOptions(opts))
  private val factory = new ParquetFileFormat().prepareWrite(spark, job, opts, dataSchema)
  /** The job's `JobConf`, shared read-only by every file's context (a
    * `JobConf` is not copied by `TaskAttemptContextImpl`). */
  private val conf = job.getConfiguration
  private val jobId = new JobID("graft-driver-write", 0)

  private def context(i: Int) =
    new TaskAttemptContextImpl(conf, new TaskAttemptID(new TaskID(jobId, TaskType.MAP, i), 0))

  /** Write each of `files` as one parquet file under `dir`, in parallel on
    * the driver pool, and publish them all or none.
    *
    * Every file is written under a hidden name (`.part-….inprogress`, which
    * no listing reads). Only once all of them closed are they renamed into
    * place; on any failure every file this call wrote, hidden or placed, is
    * deleted, and so is every directory it created (Hadoop's `create` makes
    * a file's missing parents) that is left empty; then the failure is
    * rethrown, leaving `dir` as it was.
    *
    * @param files  (partition path relative to `dir`, the file's rows in
    *               write order) per file; the rows are built on the pool
    * @param failAt a test seam: the 1-based file whose write fails after
    *               its rows, before its close; 0 for none */
  def write(dir: String, files: Seq[(String, () => Iterator[InternalRow])],
      failAt: Int = 0): Unit = if (files.nonEmpty) {
    val fs = new Path(dir).getFileSystem(conf)
    val ext = factory.getFileExtension(context(0))
    val stamp = UUID.randomUUID()
    val targets = files.indices.map { i =>
      val name = f"part-$i%05d-$stamp-c000$ext"
      val parent = new Path(dir, files(i)._1)
      (new Path(parent, s".$name.inprogress"), new Path(parent, name))
    }
    val made = targets.map(_._1.getParent).distinct.flatMap(p =>
      Iterator.iterate(p)(_.getParent).takeWhile(d => d != null && !fs.exists(d)))
      .distinct.sortBy(-_.depth)
    val tasks = files.indices.map { i =>
      (() => {
        val w = factory.newInstance(targets(i)._1.toString, dataSchema, context(i))
        var ok = false
        try {
          files(i)._2().foreach(w.write)
          if (i + 1 == failAt)
            throw new java.io.IOException(s"injected failure writing ${targets(i)._2}")
          ok = true
        } finally {
          try w.close() catch { case NonFatal(e) if !ok => () }
        }
      }): Callable[Unit]
    }
    val placed = scala.collection.mutable.ArrayBuffer[Path]()
    try {
      val failures = DriverRead.pool.invokeAll(tasks.asJava).asScala.flatMap { f =>
        try { f.get(); None } catch { case e: ExecutionException => Some(e.getCause) }
      }
      failures.headOption.foreach(e => throw e)
      targets.foreach { case (hidden, visible) =>
        if (!fs.rename(hidden, visible))
          throw new java.io.IOException(s"could not rename $hidden to $visible")
        placed += visible
      }
    } catch {
      case e: Throwable =>
        (placed ++ targets.map(_._1)).foreach { p =>
          try fs.delete(p, false) catch { case NonFatal(s) => e.addSuppressed(s) }
        }
        made.foreach { d =>
          try if (fs.exists(d) && fs.listStatus(d).isEmpty) fs.delete(d, false)
          catch { case NonFatal(s) => e.addSuppressed(s) }
        }
        throw e
    }
  }
}
