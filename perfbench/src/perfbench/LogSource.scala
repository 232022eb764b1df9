package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.{Map => JMap}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReadMaxRows, SupportsTriggerAvailableNow}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** An append-only, in-memory record log: the benchmark's stand-in for a
  * Kafka topic. The load generator appends rows; any number of streaming
  * queries read it, each tracking its own offset (a row index), so two
  * queries over one log see the same records exactly once each. Rows
  * are published by a volatile size write, so a reader never sees a
  * slot before its row is stored.
  */
final class RecordLog(val schema: StructType, capacity: Int) {
  private val rows = new Array[InternalRow](capacity)
  @volatile private var n = 0

  def size: Int = n
  def apply(i: Int): InternalRow = rows(i)

  /** Single writer: only the load-generating thread appends. */
  def append(batch: Iterator[InternalRow]): Unit = {
    var k = n
    batch.foreach { r => rows(k) = r; k += 1 }
    n = k
  }
}

object RecordLog {
  private val logs = new ConcurrentHashMap[String, RecordLog]()

  def create(name: String, schema: StructType, capacity: Int): RecordLog = {
    val log = new RecordLog(schema, capacity)
    logs.put(name, log)
    log
  }
  def get(name: String): RecordLog =
    Option(logs.get(name)).getOrElse(throw new IllegalArgumentException(s"no record log $name"))
  def drop(name: String): Unit = logs.remove(name)

  /** Streaming read of log `name`, at most `maxRows` rows per micro-batch
    * (the Kafka source's `maxOffsetsPerTrigger`).
    */
  def stream(spark: org.apache.spark.sql.SparkSession, name: String, maxRows: Int)
      : org.apache.spark.sql.DataFrame =
    spark.readStream.format(classOf[LogSource].getName)
      .option("log", name).option("maxrows", maxRows.toLong)
      .load()
}

/** DSv2 provider over [[RecordLog]]: micro-batch reads only. */
class LogSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    RecordLog.get(options.get("log")).schema
  override def getTable(s: StructType, p: Array[Transform], props: JMap[String, String]): Table = {
    val opts = new CaseInsensitiveStringMap(props)
    new LogTable(opts.get("log"), opts.getLong("maxrows", 100000L))
  }
}

private class LogTable(name: String, maxRows: Long) extends Table with SupportsRead {
  private val log = RecordLog.get(name)
  override def name(): String = s"log:$name"
  override def schema(): StructType = log.schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = () =>
    new Scan {
      override def readSchema(): StructType = log.schema
      override def toMicroBatchStream(checkpoint: String): MicroBatchStream =
        new LogStream(name, log, maxRows)
    }
}

private case class LogOffset(n: Long) extends Offset {
  override def json(): String = n.toString
}

private case class LogRange(log: String, start: Int, end: Int) extends InputPartition

/** Offsets are row indexes into the log; a batch is split into at most
  * four contiguous ranges (one per core of `local[4]`).
  */
private class LogStream(name: String, log: RecordLog, maxRows: Long)
    extends MicroBatchStream with SupportsTriggerAvailableNow {
  @volatile private var availableNowTarget = -1L

  override def prepareForTriggerAvailableNow(): Unit = availableNowTarget = log.size.toLong
  override def getDefaultReadLimit: ReadLimit = ReadLimit.maxRows(maxRows)
  override def initialOffset(): Offset = LogOffset(0L)
  override def latestOffset(): Offset = throw new UnsupportedOperationException("admission-controlled")
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = start.asInstanceOf[LogOffset].n
    val step = limit match {
      case m: ReadMaxRows => m.maxRows()
      case _ => maxRows
    }
    val top = if (availableNowTarget >= 0) availableNowTarget else log.size.toLong
    LogOffset(math.min(s + step, top))
  }
  override def reportLatestOffset(): Offset = LogOffset(log.size.toLong)
  override def deserializeOffset(json: String): Offset = LogOffset(json.trim.toLong)
  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[LogOffset].n.toInt
    val e = end.asInstanceOf[LogOffset].n.toInt
    val parts = math.max(1, math.min(4, e - s))
    (0 until parts).map(p => LogRange(name, s + (e - s) * p / parts, s + (e - s) * (p + 1) / parts))
      .filter(r => r.end > r.start).toArray[InputPartition]
  }
  override def createReaderFactory(): PartitionReaderFactory = (partition: InputPartition) => {
    val r = partition.asInstanceOf[LogRange]
    val src = RecordLog.get(r.log)
    new PartitionReader[InternalRow] {
      private var i = r.start - 1
      override def next(): Boolean = { i += 1; i < r.end }
      override def get(): InternalRow = src(i)
      override def close(): Unit = ()
    }
  }
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}
