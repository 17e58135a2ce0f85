package org.apache.spark.sql.graftbridge

import java.util.{Date, UUID}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapred.JobConf
import org.apache.hadoop.mapreduce.{Job, TaskAttemptContext, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.lib.output.FileOutputFormat
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.parquet.hadoop.ParquetOutputFormat
import org.apache.spark.TaskContext
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.internal.io.{FileCommitProtocol, FileNameSpec, SparkHadoopWriterUtils}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.classic.{SparkSession => ClassicSession}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.{OutputWriter, OutputWriterFactory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.{SerializableConfiguration, Utils}

/** Writes several Parquet sinks in ONE Spark job.
  *
  * The input has one nullable struct column per sink; a row goes to
  * every sink whose struct is non-null, as that struct. Sink `s` lands
  * in `outDir/s/subDir`, which is replaced (overwrite), as a
  * `write.mode("overwrite").parquet` per sink would leave it, but the
  * input is computed once, not once per sink.
  *
  * It is Spark's own file-write protocol (the one `FileFormatWriter`
  * follows) with one writer per sink per task:
  *  - each sink's writer factory comes from `ParquetFileFormat.prepareWrite`
  *    on its own job conf, since that call stores the write schema in
  *    the conf it is given;
  *  - all sinks share ONE `FileCommitProtocol` rooted at `outDir`, with
  *    sink-relative directories: the output-commit coordinator grants one
  *    task commit per task attempt, so a committer per sink would be
  *    denied. The job's `_SUCCESS` marker lands in `outDir`;
  *  - partition 0 opens every sink's writer, so every `outDir/s/subDir`
  *    holds a file with its schema even when the sink got no rows (the
  *    empty-output rule of Spark's writer); other tasks open a sink's
  *    writer at its first row.
  * Files appear in the sink directories only at job commit; a failed job
  * is aborted, which removes its staging directory (`outDir/_temporary`).
  * That directory is shared, so two jobs must not write under one
  * `outDir` at the same time.
  *
  * The job conf goes to the tasks once per call, as `FileSourceScanExec`
  * ships its conf: one broadcast of the first sink's prepared conf
  * (~1,100 keys, ~11 ms to deserialize, which every task used to pay
  * once per sink), plus, for each other sink, the
  * few entries where its prepared conf differs (today the write schema).
  * A task builds a private `JobConf` per sink from them; the broadcast
  * value is shared by every task of a local executor and never changed.
  * The broadcast is destroyed when the job commits or aborts.
  *
  * Sink files are written without Parquet dictionary encoding; see
  * [[DictionaryEncoding]].
  */
object MultiSinkParquet {

  /** Off for every column of every sink file. A task file holds one
    * micro-batch's slice (25k rows per file in the order stream), about
    * one page per column chunk, and parquet-mr decides on the first page
    * whether a dictionary pays: for the columns that never repeat
    * (orderId, offset, price, key, value, header values) it does not, so
    * each chunk was dictionary-encoded and then re-encoded PLAIN. Off for
    * the whole job measured as fast as off for only those columns
    * (6 x 100k messages, 4 cores: 3.43 s default, 2.79 s all off, 2.83 s those
    * six off), for ~3% more sink bytes. Batch query writes keep
    * Parquet's default. */
  private val DictionaryEncoding = false

  def write(df: DataFrame, outDir: String, subDir: String): Unit = {
    val spark = df.sparkSession.asInstanceOf[ClassicSession]
    val sinks = df.schema.fields.map { f =>
      f.dataType match {
        case st: StructType => f.name -> st
        case other => throw new IllegalArgumentException(
          s"sink column ${f.name} must be a struct, got ${other.simpleString}")
      }
    }
    val hadoopConf = spark.sessionState.newHadoopConf()
    hadoopConf.setBoolean(ParquetOutputFormat.ENABLE_DICTIONARY, DictionaryEncoding)
    val format = new ParquetFileFormat
    val jobs = sinks.map { case (_, schema) =>
      val job = Job.getInstance(hadoopConf) // a copy of the session conf
      job.setOutputKeyClass(classOf[Void])
      job.setOutputValueClass(classOf[InternalRow])
      FileOutputFormat.setOutputPath(job, new Path(outDir))
      (job, format.prepareWrite(spark, job, Map.empty, schema))
    }
    val confs = jobs.map(_._1.getConfiguration)
    val overrides = overridesOfFirst(confs)
    val factories = jobs.map(_._2)
    val schemas = sinks.map(_._2)
    val dirs = sinks.map { case (name, _) => s"$name/$subDir" }
    // the commit protocol drives the first sink's job: its conf carries
    // the Parquet output format and committer every sink shares
    val commitJob = jobs.head._1
    val committer = FileCommitProtocol.instantiate(
      spark.sessionState.conf.fileCommitProtocolClass, UUID.randomUUID().toString, outDir)

    val root = new Path(outDir)
    val fs = root.getFileSystem(hadoopConf)
    dirs.foreach(d => fs.delete(new Path(root, d), true))

    val qe = df.queryExecution
    SQLExecution.withNewExecutionId(qe, Some(s"write sinks ${dirs.mkString(", ")}")) {
      val rdd = qe.toRdd
      val input = if (rdd.partitions.isEmpty) spark.sparkContext.parallelize(Seq.empty[InternalRow], 1)
        else rdd
      val jobTracker = SparkHadoopWriterUtils.createJobTrackerID(new Date)
      committer.setupJob(commitJob)
      // a copy: the commit protocol keeps using the job's own conf
      val shared = spark.sparkContext.broadcast(new SerializableConfiguration(new Configuration(confs.head)))
      try {
        val commits = new Array[FileCommitProtocol.TaskCommitMessage](input.partitions.length)
        spark.sparkContext.runJob(input,
          (ctx: TaskContext, rows: Iterator[InternalRow]) =>
            writeTask(ctx, rows, jobTracker, committer, shared, overrides, factories, schemas, dirs),
          input.partitions.indices,
          (i: Int, m: FileCommitProtocol.TaskCommitMessage) => {
            commits(i) = m
            committer.onTaskCommit(m)
          })
        committer.commitJob(commitJob, commits.toSeq)
      } catch {
        case t: Throwable =>
          committer.abortJob(commitJob)
          throw t
      } finally shared.destroy()
    }
  }

  /** For each conf, the entries where it differs from the first: a
    * changed or added key with its value, a key it lacks with null. */
  private def overridesOfFirst(confs: Array[Configuration]): Array[Array[(String, String)]] = {
    def entries(c: Configuration) = c.iterator().asScala.map(e => e.getKey -> e.getValue).toMap
    val base = entries(confs.head)
    Array.empty[(String, String)] +: confs.tail.map { conf =>
      val c = entries(conf)
      (c.filter { case (k, v) => !base.get(k).contains(v) } ++
        (base.keySet -- c.keySet).map(_ -> (null: String))).toArray
    }
  }

  private def writeTask(ctx: TaskContext, rows: Iterator[InternalRow], jobTracker: String,
      committer: FileCommitProtocol, shared: Broadcast[SerializableConfiguration],
      overrides: Array[Array[(String, String)]], factories: Array[OutputWriterFactory],
      schemas: Array[StructType], dirs: Array[String]): FileCommitProtocol.TaskCommitMessage = {
    val jobId = SparkHadoopWriterUtils.createJobID(jobTracker, ctx.stageId())
    val attempt = new TaskAttemptID(new TaskID(jobId, TaskType.MAP, ctx.partitionId()),
      ctx.attemptNumber())
    val base = shared.value.value
    val contexts: Array[TaskAttemptContext] = overrides.map { diff =>
      val conf = new JobConf(base)
      diff.foreach { case (k, v) => if (v == null) conf.unset(k) else conf.set(k, v) }
      conf.set("mapreduce.job.id", jobId.toString)
      conf.set("mapreduce.task.id", attempt.getTaskID.toString)
      conf.set("mapreduce.task.attempt.id", attempt.toString)
      conf.setBoolean("mapreduce.task.ismap", true)
      conf.setInt("mapreduce.task.partition", 0)
      new TaskAttemptContextImpl(conf, attempt)
    }
    val commitCtx = contexts(0)
    val n = dirs.length
    val writers = new Array[OutputWriter](n)
    def open(i: Int): OutputWriter = {
      val ext = "-c000" + factories(i).getFileExtension(contexts(i))
      val path = committer.newTaskTempFile(commitCtx, Some(dirs(i)), FileNameSpec("", ext))
      writers(i) = factories(i).newInstance(path, schemas(i), contexts(i))
      writers(i)
    }
    def closeAll(): Unit = {
      var i = 0
      while (i < n) {
        if (writers(i) != null) { val w = writers(i); writers(i) = null; w.close() }
        i += 1
      }
    }
    committer.setupTask(commitCtx)
    Utils.tryWithSafeFinallyAndFailureCallbacks {
      if (ctx.partitionId() == 0) (0 until n).foreach(open)
      val widths = schemas.map(_.length)
      while (rows.hasNext) {
        val row = rows.next()
        var i = 0
        while (i < n) {
          if (!row.isNullAt(i)) {
            val w = if (writers(i) != null) writers(i) else open(i)
            w.write(row.getStruct(i, widths(i)))
          }
          i += 1
        }
      }
      closeAll()
      committer.commitTask(commitCtx)
    }(catchBlock = {
      try closeAll()
      finally committer.abortTask(commitCtx)
    })
  }
}
