package graft.plans

import org.apache.hadoop.conf.Configuration
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.connector.write.WriterCommitMessage
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.datasources.{WriteFiles, WriteFilesExec, WriteFilesSpec, WriteJobDescription}
import org.apache.spark.util.SerializableConfiguration

import graft.sources.SerializableHadoopConf

/** V1 file writes (parquet/csv/json sinks) ship the Hadoop
  * Configuration INSIDE the task closure: `WriteJobDescription` holds a
  * bare [[SerializableConfiguration]] (no broadcast — unlike the scan
  * path, which broadcasts its conf), so EVERY write task re-inflates
  * the full property set. `Configuration.readFields` runs set() per
  * property and `WritableUtils.readCompressedStringArray` allocates a
  * native Inflater per property's source array — measured ~140 ms of
  * executorDeserializeTime PER TASK (a 64-file repartition write paid
  * 9 s of task deserialization plus 0.5-1 s of GC at sf0.1, per run).
  *
  * Fix at the extension seam: a planner strategy plans the logical
  * [[WriteFiles]] onto a subclass of [[WriteFilesExec]] that rewraps
  * the job description's conf in [[SameJvmWriteConf]] before the spec
  * enters the task closure. Its wire form is the registry token +
  * cached bytes from [[SerializableHadoopConf]] (one serialization per
  * write job, not one per stage), and deserialization COPIES the
  * registered live conf when the reader is the same JVM (local mode) —
  * a Properties clone, ~1-2 ms, no Inflater churn — falling back to the
  * stock byte parse cross-JVM (a real cluster, where the win is the
  * cached write side and the cheaper job-conf copy). Each task still
  * gets its OWN Configuration object, exactly like stock
  * deserialization, so no mutation can leak across tasks. */
object FastWriteFilesStrategy extends SparkStrategy {
  def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case w: WriteFiles =>
      new GraftWriteFilesExec(planLater(w.child), w.fileFormat,
        w.partitionColumns, w.bucketSpec, w.options,
        w.staticPartitions) :: Nil
    case _ => Nil
  }
}

/** [[WriteFilesExec]] with the job description's conf rewrapped for
  * same-JVM-cheap task deserialization; execution is the stock path. */
class GraftWriteFilesExec(
    child0: SparkPlan,
    fileFormat0: org.apache.spark.sql.execution.datasources.FileFormat,
    partitionColumns0: Seq[org.apache.spark.sql.catalyst.expressions.Attribute],
    bucketSpec0: Option[org.apache.spark.sql.catalyst.catalog.BucketSpec],
    options0: Map[String, String],
    staticPartitions0: org.apache.spark.sql.catalyst.catalog.CatalogTypes.TablePartitionSpec)
  extends WriteFilesExec(child0, fileFormat0, partitionColumns0,
    bucketSpec0, options0, staticPartitions0) {

  override def doExecuteWrite(
      writeFilesSpec: WriteFilesSpec): RDD[WriterCommitMessage] = {
    val d = writeFilesSpec.description
    // stats trackers (BasicWriteJobStatsTracker) carry their OWN stock
    // SerializableConfiguration into the same closure — rewrap those
    // too, by field type so any tracker shape is covered; best-effort
    // (a failure keeps the stock tracker, stock cost, stock behavior)
    d.statsTrackers.foreach { t =>
      try {
        var c: Class[_] = t.getClass
        while (c != null) {
          c.getDeclaredFields.foreach { f =>
            if (f.getType == classOf[SerializableConfiguration]) {
              f.setAccessible(true)
              f.get(t) match {
                case sc: SerializableConfiguration
                    if !sc.isInstanceOf[SameJvmWriteConf] =>
                  f.set(t, new SameJvmWriteConf(sc.value))
                case _ =>
              }
            }
          }
          c = c.getSuperclass
        }
      } catch { case scala.util.control.NonFatal(_) => () }
    }
    val fast = new WriteJobDescription(d.uuid,
      new SameJvmWriteConf(d.serializableHadoopConf.value),
      d.outputWriterFactory, d.allColumns, d.dataColumns,
      d.partitionColumns, d.bucketSpec, d.path,
      d.customPartitionLocations, d.maxRecordsPerFile, d.timeZoneId,
      d.statsTrackers)
    super.doExecuteWrite(writeFilesSpec.copy(description = fast))
  }

  override def withNewChildInternal(newChild: SparkPlan): WriteFilesExec =
    new GraftWriteFilesExec(newChild, fileFormat0, partitionColumns0,
      bucketSpec0, options0, staticPartitions0)
}

/** Serialization proxy wrapper: the wire form is
  * [[SameJvmWriteConfProxy]] (token + cached bytes), never the
  * per-property compressed walk of `Configuration.write`. */
class SameJvmWriteConf(conf: Configuration)
    extends SerializableConfiguration(conf) {
  private def writeReplace(): AnyRef = {
    val (token, bytes) = SerializableHadoopConf.wireForm(value)
    new SameJvmWriteConfProxy(SerializableHadoopConf.jvmId, token, bytes)
  }
}

/** What actually crosses the wire; resolves back to a plain
  * [[SerializableConfiguration]] holding a fresh per-reader copy. */
class SameJvmWriteConfProxy(jvmId: String, token: Long,
                            bytes: Array[Byte]) extends Serializable {
  private def readResolve(): AnyRef = {
    val local =
      if (jvmId == SerializableHadoopConf.jvmId)
        SerializableHadoopConf.localConf(token)
      else null
    val conf =
      if (local != null) new Configuration(local) // Properties clone
      else {
        val c = new Configuration(false)
        c.readFields(new java.io.DataInputStream(
          new java.io.ByteArrayInputStream(bytes)))
        c
      }
    new SerializableConfiguration(conf)
  }
}
