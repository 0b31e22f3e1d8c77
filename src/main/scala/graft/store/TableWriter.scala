package graft.store

import java.io.{IOException, ObjectInputStream, ObjectOutputStream}
import java.util.UUID

import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapred.JobConf
import org.apache.hadoop.mapreduce.{Job, JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.TaskContext
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.graftshim.SessionBridge

import SnapshotStore.DataFile

/** The snapshot store's one Parquet writer. It writes a table the way
  * `df.write.mode("overwrite").parquet(dir)` does — Spark's own Parquet
  * `OutputWriterFactory`, the same footers, one file per non-empty
  * partition and partition 0's even when empty — without Hadoop's
  * per-task commit protocol:
  *
  *   - the writer's configuration (the session's full Hadoop conf plus
  *     the keys `ParquetFileFormat.prepareWrite` sets) is ONE `JobConf`,
  *     broadcast once per write. Spark's writer ships it inside every
  *     task's closure instead, so each task deserialises ~1,100 entries
  *     (a `GZIPInputStream` per entry's source list) and then copies them
  *     again into the `JobConf` of its task context; here every executor
  *     reads it once and tasks hand it to their context as it is;
  *   - each task writes its partition to a hidden attempt file
  *     `_<attempt>-part-…` (readers skip `_`-prefixed names) and returns
  *     it with its row and byte counts;
  *   - the driver renames exactly the attempt files the job returned to
  *     `part-<partition>-<uuid>-c000<ext>` and deletes every other attempt
  *     file (failed or duplicate attempts), so the directory ends holding
  *     only published files. No `_temporary` tree, no `_SUCCESS` marker.
  *
  * The broadcast conf is shared by the tasks of an executor and only
  * read: the Parquet writer reads its keys and never sets one. Each
  * partition writes one file (`spark.sql.files.maxRecordsPerFile` does
  * not split it). A duplicate attempt still running when the job ends
  * (speculation) can leave its hidden file behind the sweep; readers
  * skip it and the manifest never names it.
  */
private[store] object TableWriter {

  /** Write `df` as the Parquet table at the local path `dir` through
    * [[ForklessLocalFileSystem]] (registered by the [[SnapshotStore]]),
    * replacing whatever `dir` held. Runs as one root SQL execution (its
    * jobs carry the caller's job description) and returns the published
    * files in partition order, with plain paths.
    */
  def write(df: DataFrame, dir: String): Seq[DataFile] = {
    val spark = df.sparkSession
    val qe = df.queryExecution
    SQLExecution.withNewExecutionId(qe, Some("save")) {
      val schema = qe.optimizedPlan.schema
      val job = Job.getInstance(SessionBridge.newHadoopConf(spark))
      val factory = new ParquetFileFormat()
        .prepareWrite(spark, job, Map.empty, schema)
      val conf = job.getConfiguration.asInstanceOf[JobConf]
      val root = new Path(s"${ForklessLocalFileSystem.Scheme}:$dir")
      val fs = root.getFileSystem(conf)
      if (fs.exists(root)) fs.delete(root, true)
      fs.mkdirs(root)
      val uuid = UUID.randomUUID().toString
      val ext = factory.getFileExtension(
        new TaskAttemptContextImpl(conf, new TaskAttemptID()))
      val bc = spark.sparkContext.broadcast(new SerializableJobConf(conf))
      val target = root.toString
      // as in Spark's writer, partition 0 writes a file even when empty
      // (a plan with no partition gets one), so the table keeps its schema
      val rows = Some(qe.toRdd).filter(_.partitions.nonEmpty).getOrElse(
        spark.sparkContext.parallelize(Seq.empty[InternalRow], 1))
      try {
        val written = spark.sparkContext.runJob(rows,
          (ctx: TaskContext, it: Iterator[InternalRow]) => {
            val pid = ctx.partitionId()
            if (pid != 0 && !it.hasNext) None
            else {
              val conf = bc.value.value
              val id = new TaskID(new JobID(uuid, ctx.stageId()),
                TaskType.MAP, pid)
              val attempt = new TaskAttemptContextImpl(conf,
                new TaskAttemptID(id, ctx.attemptNumber()))
              val file = new Path(target,
                s"_${ctx.attemptNumber()}-${publishedName(pid, uuid, ext)}")
              val out = factory.newInstance(file.toString, schema, attempt)
              var n = 0L
              try while (it.hasNext) { out.write(it.next()); n += 1 }
              catch {
                case t: Throwable =>
                  try out.close()
                  catch { case s: Throwable => t.addSuppressed(s) }
                  throw t
              }
              out.close()
              val bytes = file.getFileSystem(conf).getFileStatus(file).getLen
              Some(DataFile(file.getName, n, bytes, pid))
            }
          })
        val published = written.toSeq.flatten.sortBy(_.partition).map { f =>
          val to = new Path(root, publishedName(f.partition, uuid, ext))
          if (!fs.rename(new Path(root, f.path), to))
            throw new IOException(s"could not publish ${f.path} as $to")
          f.copy(path = to.toUri.getPath)
        }
        fs.listStatus(root).foreach { st =>
          if (st.getPath.getName.startsWith("_")) fs.delete(st.getPath, false)
        }
        published
      } finally bc.destroy()
    }
  }

  private def publishedName(partition: Int, uuid: String, ext: String) =
    f"part-$partition%05d-$uuid-c000$ext"

  /** A `JobConf` that crosses to executors as one; Spark's own
    * `SerializableConfiguration` reads back a plain `Configuration`.
    */
  private final class SerializableJobConf(@transient var value: JobConf)
      extends Serializable {
    private def writeObject(out: ObjectOutputStream): Unit = {
      out.defaultWriteObject()
      value.write(out)
    }
    private def readObject(in: ObjectInputStream): Unit = {
      in.defaultReadObject()
      value = new JobConf(false)
      value.readFields(in)
    }
  }
}
