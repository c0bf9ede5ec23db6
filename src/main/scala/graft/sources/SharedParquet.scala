package graft.sources

import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.planning.ScanOperation
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project, ResolvedHint}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.datasources.{FileSourceStrategy, HadoopFsRelation,
  LogicalRelation, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.sources.{Filter => SourceFilter}
import org.apache.spark.sql.types.StructType

/** Parquet whose reader function is built once per distinct scan and
  * configuration. Spark's `buildReaderWithPartitionValues` broadcasts
  * the scan's whole Hadoop configuration (about 1,100 entries, each
  * written through a gzip stream) every time a `FileSourceScanExec`
  * runs, i.e. once per scan of every statement; that broadcast is the
  * largest fixed cost of a short statement. The reader it returns is a
  * pure function of its inputs, so a later statement that scans with
  * the same inputs reuses it, broadcast included.
  *
  * Plan text is unchanged: `toString` ("Parquet") and `shortName`
  * ("parquet") are inherited, and `ParquetFileFormat.equals` is
  * `isInstanceOf[ParquetFileFormat]`. Installed by
  * [[SharedParquetScanStrategy]].
  */
class SharedParquetFileFormat extends ParquetFileFormat {
  override def buildReaderWithPartitionValues(
      sparkSession: SparkSession,
      dataSchema: StructType,
      partitionSchema: StructType,
      requiredSchema: StructType,
      filters: Seq[SourceFilter],
      options: Map[String, String],
      hadoopConf: Configuration): PartitionedFile => Iterator[InternalRow] = {
    // the key is taken before the build, which sets entries in hadoopConf
    val key = SharedParquetFileFormat.Key(sparkSession, dataSchema, partitionSchema,
      requiredSchema, filters, filters.map(_.toString), options,
      SharedParquetFileFormat.content(hadoopConf))
    SharedParquetFileFormat.readers(sparkSession.sparkContext, key) {
      SharedParquetFileFormat.builds.incrementAndGet()
      super.buildReaderWithPartitionValues(sparkSession, dataSchema, partitionSchema,
        requiredSchema, filters, options, hadoopConf)
    }
  }
}

object SharedParquetFileFormat {
  /** Readers kept at most; each pins one configuration broadcast. */
  val MaxReaders = 64

  /** Everything the build reads. The relation session's explicit SQL
    * confs and the relation options reach it through `conf` (Spark
    * copies them into the Hadoop configuration it passes); the build
    * reads the relation session's `SQLConf` and never `SQLConf.get`.
    * `filterText` keeps the key exact where case-class equality is
    * numeric (`EqualTo(c, 0.0) == EqualTo(c, -0.0)`). */
  private[sources] final case class Key(session: SparkSession, dataSchema: StructType,
      partitionSchema: StructType, requiredSchema: StructType, filters: Seq[SourceFilter],
      filterText: Seq[String], options: Map[String, String],
      conf: java.util.Map[String, String])

  private[graft] val readers =
    new ReaderMemo[Key, PartitionedFile => Iterator[InternalRow]](MaxReaders)

  /** Readers built (memo misses) since the JVM started. */
  private[graft] val builds = new AtomicLong

  /** The raw key/value content of `conf` (what `Configuration.write`
    * broadcasts). */
  private def content(conf: Configuration): java.util.Map[String, String] = {
    val m = new java.util.HashMap[String, String]()
    conf.forEach(e => m.put(e.getKey, e.getValue))
    m
  }
}

/** A bounded LRU of built values, scoped to one owner (a `SparkContext`):
  * a lookup under a new owner first drops every entry of the previous
  * one. Broadcast ids restart at 0 in a new `SparkContext`, so a reader
  * built in a stopped context must never run in the next one. No lock is
  * held while a value is built; two threads missing the same key at once
  * both build, and the first to finish is kept.
  */
private[graft] final class ReaderMemo[K, V <: AnyRef](bound: Int) {
  private var owner: AnyRef = null
  private val entries = new java.util.LinkedHashMap[K, V](16, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[K, V]): Boolean = this.size > bound
  }

  def apply(scope: AnyRef, key: K)(build: => V): V = {
    val hit = synchronized {
      if (owner ne scope) { entries.clear(); owner = scope }
      entries.get(key)
    }
    if (hit != null) hit
    else {
      val built = build
      synchronized {
        if (owner ne scope) built
        else {
          val prior = entries.putIfAbsent(key, built)
          if (prior != null) prior else built
        }
      }
    }
  }

  def size: Int = synchronized(entries.size)
}

/** Plans every plain Parquet scan through one [[SharedParquetFileFormat]]
  * and then through Spark's own `FileSourceStrategy`.
  *
  * The Project/Filter chain above the relation is rebuilt by direct
  * construction. An optimizer rule, `transform` or `withNewChildren`
  * would not do: they compare the new child with `fastEquals`, which
  * finds `r.copy(fileFormat = shared)` equal to `r` (Parquet's `equals`
  * is `isInstanceOf`) and keeps the old leaf under any parent.
  */
object SharedParquetScanStrategy extends SparkStrategy {
  private val shared = new SharedParquetFileFormat

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case ScanOperation(_, _, _, l: LogicalRelation) if isPlainParquet(l) =>
      FileSourceStrategy(withShared(plan))
    case _ => Nil
  }

  private def isPlainParquet(l: LogicalRelation): Boolean = l.relation match {
    case r: HadoopFsRelation => r.fileFormat.getClass == classOf[ParquetFileFormat]
    case _ => false
  }

  // ScanOperation walks exactly these three node types down to the leaf
  private def withShared(plan: LogicalPlan): LogicalPlan = plan match {
    case p: Project => p.copy(child = withShared(p.child))
    case f: Filter => f.copy(child = withShared(f.child))
    case h: ResolvedHint => h.copy(child = withShared(h.child))
    case l: LogicalRelation =>
      val r = l.relation.asInstanceOf[HadoopFsRelation]
      l.copy(relation = r.copy(fileFormat = shared)(r.sparkSession))
  }
}
