package graft.sink

import java.nio.file.{Files, Path}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.mapreduce.{Job, TaskAttemptContext, TaskAttemptID}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.{OutputWriter, OutputWriterFactory}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetOutputWriter, ParquetWriteSupport}
import org.apache.spark.sql.types.StructType

/** Parquet writes that split rows into tables by column: every data
  * column is a struct holding one table's row, and each row has exactly
  * one non-null struct. Written with `partitionBy` on a column that
  * names that table, each file holds the rows of one partition, so of
  * one table: its writer writes the non-null struct alone, with that
  * struct's schema as the file's schema. Each partition dir is then a
  * parquet dir of its table, read or moved as is, and one job writes
  * every table (Sync's staging scan writes every kind table this way).
  * A partition whose rows put their non-null struct in different
  * columns fails its task.
  */
class SplitParquetFormat extends ParquetFileFormat {
  override def prepareWrite(spark: SparkSession, job: Job,
      options: Map[String, String], dataSchema: StructType)
      : OutputWriterFactory =
    new SplitParquetFormat.Factory(
      super.prepareWrite(spark, job, options, dataSchema))
}

object SplitParquetFormat {

  private final class Factory(parquet: OutputWriterFactory)
      extends OutputWriterFactory {
    override def getFileExtension(ctx: TaskAttemptContext): String =
      parquet.getFileExtension(ctx)
    override def newInstance(path: String, dataSchema: StructType,
        ctx: TaskAttemptContext): OutputWriter =
      new Writer(path, dataSchema, ctx)
  }

  /** Opens its parquet writer at the first row: the row's non-null
    * struct picks the table, and the writer gets a copy of the task's
    * conf with that table's schema. */
  private final class Writer(override val path: String,
      dataSchema: StructType, ctx: TaskAttemptContext) extends OutputWriter {
    private var ordinal = -1
    private var width = 0
    private var out: ParquetOutputWriter = _

    override def write(row: InternalRow): Unit = {
      if (out == null) {
        ordinal = (0 until row.numFields).find(!row.isNullAt(_))
          .getOrElse(throw new IllegalStateException(
            s"a row of $path holds no table's struct"))
        val table = dataSchema(ordinal).dataType.asInstanceOf[StructType]
        width = table.length
        val conf = new Configuration(ctx.getConfiguration)
        ParquetWriteSupport.setSchema(table, conf)
        out = new ParquetOutputWriter(path,
          new TaskAttemptContextImpl(conf, ctx.getTaskAttemptID))
      } else if (row.isNullAt(ordinal))
        throw new IllegalStateException(
          s"$path mixes the rows of ${dataSchema(ordinal).name} with others'")
      out.write(row.getStruct(ordinal, width))
    }

    override def close(): Unit = if (out != null) out.close()
  }

  /** Write `schema` as one row-less parquet file in `dir` (created), on
    * the driver: no Spark job. Such a dir reads as an empty table of
    * `schema`. */
  def writeEmpty(spark: SparkSession, schema: StructType, dir: Path): Unit = {
    Files.createDirectories(dir)
    val job = Job.getInstance(spark.sessionState.newHadoopConf())
    val factory = new ParquetFileFormat()
      .prepareWrite(spark, job, Map.empty, schema)
    val ctx = new TaskAttemptContextImpl(job.getConfiguration,
      new TaskAttemptID())
    val file = dir.resolve(s"part-00000${factory.getFileExtension(ctx)}")
    factory.newInstance(file.toUri.toString, schema, ctx).close()
  }
}
