package graft.plans

import scala.reflect.ClassTag

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.{DoubleType, LongType, StructType}

/** THE fence-policy chokepoint: every multi-consumer / iterative
  * barrier in `src/main` routes through here, and the choice of fence
  * is a SIZE policy with one function per tier (an InfraSpec guard
  * fails on a `localCheckpoint` call outside this file or a [[Stage]]
  * write outside `graft.plans`):
  *
  *  - [[corpus]] — the frame is proportional to the corpus (per-doc
  *    shingle sets, signatures, featurized rows, edge lists, per-round
  *    rank/label tables). An executor-local checkpoint would pin
  *    corpus-scale blocks in executor storage (100 TB must fit on
  *    executor disks) and make any executor loss unrecoverable
  *    mid-job; these take the durable [[Stage]] writer instead —
  *    parquet under the stage root, read back as a plain pruned
  *    columnar scan. Unique per call, so per-round fences and re-runs
  *    never clobber a frame still being read. [[corpusBucketed]] is
  *    the same tier for frames an iterative consumer re-probes on one
  *    key every round (HashMin edges, PageRank edge+degree tables):
  *    written bucketed so the read-back keeps its hash partitioning and
  *    rounds shuffle only the small re-derived side.
  *  - [[bounded]] — the frame is DRIVER-BOUNDED (cut points, block
  *    offsets, codebooks, sketch registers, |groups|-row partials, one
  *    micro-batch): executor-local checkpoint is the right fence —
  *    cheaper than a filesystem round-trip, and losing it re-runs a
  *    bounded computation, not a corpus pass.
  *
  * When a frame's tier is only known once it is written, the same rule
  * is asked of the stage: [[driverBounded]] answers whether a staged
  * frame is small enough to collect (a fixed 10 MB of parquet), and
  * [[tiered]] is the one sequence that asks it — stage plainly, ask,
  * then either collect and reclaim the stage or hand it to the corpus
  * plan. Its callers are `Dedup.connectedComponents` (union-find in the
  * driver, or HashMin rounds over a re-staged [[corpusBucketed]] edge
  * list) and the three exact reductions of `Drift` — the quantiles of
  * `quantilesFromCounts` and `quantilesFromCountsBy`, and the KS
  * statistic (a rank walk in the driver, or the block prefix-sum plan
  * over the stage).
  */
object Fence {

  /** Durable fence for a corpus-sized frame (unique per call). */
  def corpus(df: DataFrame, name: String): DataFrame =
    Stage.materializeUnique(df, name)

  /** Durable fence for a corpus-sized frame probed on `bucketCol`
    * every round by an iterative consumer
    * ([[Stage.materializeBucketed]]). The one bucket rule: the stage
    * always has `spark.sql.shuffle.partitions` buckets, the count every
    * shuffle of a loop round lands on, so a join of the stage with a
    * round's re-derived side plans no exchange on the staged side
    * (PageRank's rank-update join needs exactly this). The count is the
    * session's own scale setting; no optimizer size estimate, which can
    * be off in either direction, enters it. */
  def corpusBucketed(df: DataFrame, name: String,
      bucketCol: String): DataFrame =
    Stage.materializeBucketed(df, name, bucketCol)

  /** Eager executor-local fence for a DRIVER-BOUNDED partial. A
    * streaming frame cannot be checkpointed and passes through
    * untouched (its duplicated legs are a per-micro-batch cost the
    * stream owner already accepted). */
  def bounded(df: DataFrame): DataFrame =
    if (df.isStreaming) df else df.localCheckpoint(true)

  /** True when a frame the stage writer returned is DRIVER-BOUNDED:
    * its staged parquet bytes are within the driver bound, 10 MB
    * (Spark's default broadcast bound on the same kind of bytes). A
    * fixed constant, so no join-tuning setting changes which algorithm
    * a caller runs, and a corpus-sized stage is never collected. One
    * filesystem stat, no job. False for a frame that did not come from
    * the stage writer. */
  def driverBounded(staged: DataFrame): Boolean = {
    val bytes = Stage.stagedBytes(staged)
    bytes >= 0 && bytes <= driverBoundBytes.value
  }

  /** The two size tiers of a frame whose size is known only once it is
    * written. `df` is staged plainly ([[corpus]], named `name`) and
    * [[driverBounded]] is asked about the stage:
    *  - driver-bounded: ONE job collects the stage as one array per
    *    column ([[Columns]]), the stage is reclaimed and `driverTier`
    *    computes the result in the driver;
    *  - otherwise `corpusTier` runs over the stage.
    * `driverTier` may decline (None) an input it would not answer
    * exactly as the corpus tier does (a null, a zero divisor); the
    * corpus tier then runs over the same stage, which it keeps. A
    * streaming frame cannot be staged, so `corpusTier` gets it as is. */
  def tiered[A](df: DataFrame, name: String)(
      driverTier: Columns => Option[A])(corpusTier: DataFrame => A): A =
    if (df.isStreaming) corpusTier(df)
    else {
      val staged = corpus(df, name)
      val local =
        if (driverBounded(staged)) driverTier(Columns.collect(staged))
        else None
      local match {
        case Some(a) => reclaim(staged); a
        case None => corpusTier(staged)
      }
    }

  /** A driver-bounded stage collected by [[tiered]]: column `i` of the
    * stage as one array, primitive for long and double columns
    * ([[longs]], [[doubles]]) and boxed otherwise ([[values]]). A null
    * reads 0 in a primitive array and sets [[hasNull]]. */
  final class Columns private (val schema: StructType,
      cols: Array[AnyRef], val hasNull: Boolean) {
    def longs(i: Int): Array[Long] = cols(i).asInstanceOf[Array[Long]]
    def doubles(i: Int): Array[Double] = cols(i).asInstanceOf[Array[Double]]
    def values(i: Int): Array[Any] = cols(i).asInstanceOf[Array[Any]]
  }

  private object Columns {
    def collect(staged: DataFrame): Columns = {
      val types = staged.schema.fields.map(_.dataType)
      // ONE job; each partition ships one array per column, not its Rows
      val parts = staged.rdd.mapPartitions { it =>
        val rows = it.toArray
        val cols = types.indices.map[AnyRef] { i =>
          types(i) match {
            case LongType => rows.map(r => if (r.isNullAt(i)) 0L else r.getLong(i))
            case DoubleType =>
              rows.map(r => if (r.isNullAt(i)) 0.0 else r.getDouble(i))
            case _ => rows.map(r => r.get(i): Any)
          }
        }.toArray
        Iterator((cols, rows.exists(_.anyNull)))
      }.collect()
      def cat[T: ClassTag](i: Int): Array[T] =
        Array.concat(parts.map(_._1(i).asInstanceOf[Array[T]]).toIndexedSeq: _*)
      val cols = types.indices.map[AnyRef] { i =>
        types(i) match {
          case LongType => cat[Long](i)
          case DoubleType => cat[Double](i)
          case _ => cat[Any](i)
        }
      }.toArray
      new Columns(staged.schema, cols, parts.exists(_._2))
    }
  }

  /** The driver bound in bytes. Tests lower it for one block with
    * `driverBoundBytes.withValue(-1L) { ... }`, which makes no stage
    * driver-bounded (the corpus tier of every size-tiered caller). */
  private[graft] val driverBoundBytes =
    new scala.util.DynamicVariable[Long](10L * 1024 * 1024)

  /** Eagerly reclaim a SUPERSEDED [[corpus]]/[[corpusBucketed]] frame
    * — the iterative-operator discipline: once round N+1's fence has
    * committed (the write is an action) and round N's frame has no
    * other consumer, delete round N's stage so storage is bounded by
    * live rounds, not total rounds. No-op for frames that didn't come
    * from the stage writer (e.g. a loop's round-0 input), so loops may
    * call it unconditionally on the previous round's frame. */
  def reclaim(df: DataFrame): Unit = Stage.reclaim(df)
}
