package graft.frontier

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Dataset, Encoder}
import org.apache.spark.sql.expressions.Aggregator

/** The frontier priority queue + per-host politeness scheduler.
  *
  * Ordering contract (SURVEY.md O1, the reproducibility invariant): the
  * total crawl order is `(seed, depth, page_idx, pos_in_page)` — a direct
  * encoding of the reference's serial visit order (pages in `GetPages`
  * list order, items in document order within a page). `crawlRank` packs
  * it into one comparable long for sinks:
  * seed(12 bits) | depth(6) | page_idx(16) | pos_in_page(16) | item_idx(12)
  * — the low 12 bits are left zero on frontier entries and filled by record
  * extraction (document-order item index, [[graft.crawl.PageParsers]]).
  */
final case class FrontierEntry(
    url: String,
    urlHash: Long,
    host: String,
    kind: String, // parser family: search | paper | blog
    seed: Int,
    depth: Int,
    pageIdx: Int,
    posInPage: Int,
    attempts: Int
) {
  def crawlRank: Long = FrontierEntry.rank(seed, depth, pageIdx, posInPage)
}

object FrontierEntry {
  def rank(seed: Int, depth: Int, pageIdx: Int, posInPage: Int): Long =
    (seed.toLong << 50) | (depth.toLong << 44) |
      (pageIdx.toLong << 28) | (posInPage.toLong << 12)
}

/** A frontier entry scheduled into a wave: `slot` is its position within
  * its host's politeness queue; `notBefore` the earliest allowed fetch time
  * (waveStart + slot × host crawl delay) — recorded in fetch_log so the
  * politeness property (consecutive same-host fetches ≥ delay apart,
  * ≤ budget per wave) is checkable without actually sleeping in-sandbox.
  */
final case class Scheduled(entry: FrontierEntry, slot: Int, notBefore: Long)

/** The per-host politeness scheduler: one `groupByKey(host)` typed
  * Aggregator ([[PoliteScheduler.TopKByRank]]), the crawl loop's only
  * scheduler. A window form (`row_number` over host ≤ budget) gives the
  * same wave, but it is bounded before the shuffle only while Spark pushes
  * its rank limit down (`WindowGroupLimit`), which Spark skips once the
  * budget passes its window group limit threshold (1,000 by default):
  * from there a hot host goes whole into one task. The
  * Aggregator's map-side top-k holds at every finite budget, so it is the
  * form kept.
  */
object PoliteScheduler {

  final case class Config(
      hostBudget: Int = 64, // max URLs per host per wave (R1 analogue)
      defaultDelayMs: Long = 1000L // reference's sleep(1) between fetches
  )

  /** Typed Aggregator keeping the `budget` lowest-crawl-rank entries per
    * key — a distributed bounded top-k with map-side partial aggregation:
    * each partition reduces a key to one buffer of ≤ 2 × budget entries
    * *before* the shuffle, so a hot host with 10^7 frontier rows moves one
    * record per partition, bounded by the budget, instead of all of them
    * (the host-skew answer the north rule asks for, complementing AQE skew
    * splitting). An unbounded budget never compacts.
    */
  final class TopKByRank(budget: Int)
      extends Aggregator[FrontierEntry, Seq[FrontierEntry], Seq[FrontierEntry]] {
    private def keyOf(e: FrontierEntry) =
      (e.seed, e.depth, e.pageIdx, e.posInPage, e.urlHash)
    // amortized bound: buffers grow unsorted and compact (sort + truncate
    // to budget) only past 2× budget, so a sort is paid once per budget
    // inserts instead of per insert; `finish` does the single final sort.
    private def compactAt: Int =
      if (budget >= Int.MaxValue / 2) Int.MaxValue else 2 * budget
    private def compact(b: Seq[FrontierEntry]): Seq[FrontierEntry] =
      if (b.length > compactAt) b.sortBy(keyOf).take(budget) else b
    def zero: Seq[FrontierEntry] = Vector.empty
    def reduce(b: Seq[FrontierEntry], e: FrontierEntry): Seq[FrontierEntry] =
      compact(b :+ e)
    def merge(a: Seq[FrontierEntry], b: Seq[FrontierEntry]): Seq[FrontierEntry] =
      compact(a ++ b)
    def finish(b: Seq[FrontierEntry]): Seq[FrontierEntry] =
      b.sortBy(keyOf).take(budget)
    def bufferEncoder: Encoder[Seq[FrontierEntry]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[FrontierEntry]]()
    def outputEncoder: Encoder[Seq[FrontierEntry]] = bufferEncoder
  }

  /** Robots admission for one entry: false when its path starts with a
    * disallow prefix of its host. The one row-side check behind the
    * crawl loop's admission filter and the scheduler.
    */
  def allowed(robots: Map[String, (Seq[String], Long)],
      e: FrontierEntry): Boolean =
    robots.get(e.host) match {
      case Some((prefixes, _)) =>
        val path = graft.url.UrlCanon.pathOf(e.url)
        !prefixes.exists(path.startsWith)
      case None => true
    }

  /** Schedule one wave: robots gating, then per-host budgeted top-k in
    * crawl-rank order, then slot/notBefore assignment.
    *
    * Robots handling (absent in the reference, required by north_rule):
    * the tiny robots table, collected once per crawl into a map, arrives
    * as the caller's broadcast — the crawl loop broadcasts it once per
    * crawl and shares it between admission and every wave's schedule;
    * disallowed path-prefixes are filtered out (logged upstream), and a
    * host's `crawl_delay_ms` overrides the default politeness delay.
    */
  def scheduleWithMap(frontier: Dataset[FrontierEntry],
      robots: Broadcast[Map[String, (Seq[String], Long)]],
      waveStartMs: Long, cfg: Config = Config()): Dataset[Scheduled] = {
    val spark = frontier.sparkSession
    import spark.implicits._
    val defaultDelay = cfg.defaultDelayMs

    val agg = new TopKByRank(cfg.hostBudget).toColumn
    frontier
      .filter(e => allowed(robots.value, e))
      .groupByKey(_.host)
      .agg(agg.name("picked"))
      .flatMap { case (host, picked) =>
        val delay = robots.value.get(host).map(_._2).getOrElse(defaultDelay)
        picked.zipWithIndex.map { case (e, slot) =>
          Scheduled(e, slot, waveStartMs + slot * delay)
        }
      }
  }

  /** One-shot form of [[scheduleWithMap]]: broadcasts `robotsMap` for this
    * single schedule (a bench layer, a spec). A loop scheduling wave after
    * wave passes one broadcast instead.
    */
  def scheduleWithMap(frontier: Dataset[FrontierEntry],
      robotsMap: Map[String, (Seq[String], Long)],
      waveStartMs: Long, cfg: Config): Dataset[Scheduled] =
    scheduleWithMap(frontier,
      frontier.sparkSession.sparkContext.broadcast(robotsMap), waveStartMs,
      cfg)
}
