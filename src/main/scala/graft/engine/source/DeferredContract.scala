package graft.engine.source

import java.util

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DSv2 source whose "scan" is a DRIVER-COMPUTED contract verdict.
  *
  * Two declared queries are contracts whose verdicts must come from
  * real executions, not a deferrable plan: `k_sweep_determinism_contract`
  * runs two seeded batched k-means sweeps and compares them; `q_join_skew_aqe`
  * runs a join under session-scoped AQE skew confs and reports the
  * grouped result. They used to run that work EAGERLY when their
  * DataFrame was *built*, so a plan-only look (`graft.tools.Plans`)
  * paid sweeps and joins as a side effect of construction
  * (round-9 verdict, Next-round #4).
  *
  * This source moves the work to the right phase of Spark's own
  * lifecycle: building the DataFrame is pure plan construction (zero
  * jobs — the contract is only a format + options lookup), and the
  * contract thunk runs on the DRIVER when the scan plans its input
  * partitions, i.e. at first EXECUTION — the same driver-side hook the
  * file sources use to list files (see GraftBinary's
  * `planInputPartitions`, which also touches `SparkSession.active`).
  * The computed verdict rows ride a single InputPartition to one task.
  *
  * Rows are memoized per (session, contract, sfDir) through
  * [[graft.engine.SessionCache]] — an AQE re-plan or a second
  * execution of the same frame reuses the verdict instead of
  * re-running the sweeps, while the bench protocol's throwaway memo
  * epochs still force genuinely cold contract runs.
  */
class DeferredContractSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    DeferredContractSource.contract(options.get("contract")).schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val key = properties.get("contract")
    val sfDir = properties.get("sfDir")
    require(key != null && sfDir != null,
      "deferred-contract source requires 'contract' and 'sfDir' options")
    new DeferredContractTable(key, sfDir)
  }
  override def supportsExternalMetadata(): Boolean = false
}

object DeferredContractSource {
  val FORMAT = "graft.engine.source.DeferredContractSource"

  /** A contract: its (fixed) result schema and the driver-side thunk
    * computing the verdict rows as plain Scala values (String fields
    * are converted to UTF8String at the reader). */
  final case class Contract(schema: StructType,
      run: (SparkSession, String) => Seq[Seq[Any]])

  private val contracts = new java.util.concurrent.ConcurrentHashMap[String, Contract]()

  /** Query packs register their contracts at object init — strictly
    * before any query lambda of theirs can build a frame over them. */
  def register(key: String, schema: StructType)(
      run: (SparkSession, String) => Seq[Seq[Any]]): Unit =
    contracts.put(key, Contract(schema, run))

  private[source] def contract(key: String): Contract = {
    // a missing 'contract' option reaches here as null (inferSchema
    // runs before getTable's require) — CHM.get(null) would NPE
    require(key != null,
      "deferred-contract source requires 'contract' and 'sfDir' options")
    val c = contracts.get(key)
    require(c != null, s"unregistered deferred contract '$key'")
    c
  }

  private val rowsCache = new graft.engine.SessionCache[Seq[Seq[Any]]]

  private[source] def rowsFor(key: String, sfDir: String): Seq[Seq[Any]] = {
    val s = SparkSession.active
    rowsCache.get(s, s"$key|$sfDir")(contract(key).run(s, sfDir))
  }
}

class DeferredContractTable(key: String, sfDir: String)
  extends Table with SupportsRead {
  override def name(): String = s"graft-contract `$key`($sfDir)"
  override def schema(): StructType = DeferredContractSource.contract(key).schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new DeferredContractScan(key, sfDir)
    }
}

class DeferredContractScan(key: String, sfDir: String) extends Scan with Batch {
  override def readSchema(): StructType = DeferredContractSource.contract(key).schema
  override def toBatch: Batch = this
  /** Declare row-based support STATICALLY: the default
    * (PARTITION_DEFINED) makes physical planning enumerate the input
    * partitions to decide columnar support, which would run the
    * contract thunk at `executedPlan` construction — i.e. whenever a
    * tool merely prints a plan. With UNSUPPORTED, planning never
    * touches partitions and the thunk runs at actual execution
    * (verified by DeferredContractSpec's zero-jobs pin). */
  override def columnarSupportMode(): Scan.ColumnarSupportMode =
    Scan.ColumnarSupportMode.UNSUPPORTED
  /** The deferred work runs HERE — driver-side, at execution. */
  override def planInputPartitions(): Array[InputPartition] =
    Array(DeferredRowsPartition(DeferredContractSource.rowsFor(key, sfDir)))
  override def createReaderFactory(): PartitionReaderFactory =
    DeferredRowsReaderFactory()
}

/** The verdict rows travel in the partition itself (a handful of
  * primitive/string scalars — contract outputs, never data-scale). */
case class DeferredRowsPartition(rows: Seq[Seq[Any]]) extends InputPartition

case class DeferredRowsReaderFactory() extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new PartitionReader[InternalRow] {
      private val it = partition.asInstanceOf[DeferredRowsPartition].rows.iterator
      private var row: InternalRow = _
      override def next(): Boolean = {
        if (!it.hasNext) return false
        row = new GenericInternalRow(it.next().map {
          case s: String => UTF8String.fromString(s)
          case v         => v.asInstanceOf[AnyRef]
        }.toArray[Any])
        true
      }
      override def get(): InternalRow = row
      override def close(): Unit = ()
    }
}
