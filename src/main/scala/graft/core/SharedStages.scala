package graft.core

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Session-scoped shared stages: the engine computes a costly derived
  * table once and lets every later query in the session that asks for
  * the same stage reuse it (the DataFrame analog of a materialized CTE
  * shared across queries).
  *
  * One mechanism serves every stage:
  *   - the owner builds the key from the CANONICALIZED analyzed plan of
  *     its input plus every parameter that changes the result, so only
  *     true same-result inputs share;
  *   - `get(key)(build)` returns the cached value or runs `build` once
  *     (the owner persists what it builds);
  *   - each stage holds at most `cap` entries, FIFO-evicted; an evicted
  *     or cleared value has every `Dataset` in it unpersisted;
  *   - hits, misses and per-key counts are kept per stage and land in
  *     `target/bench.json` under the stage's `name`, so a timing that
  *     rode a warm stage says so, and a key missing more than once per
  *     board pass shows the cap is too small;
  *   - [[clearAll]] drops every entry (scale probes clear before each
  *     timed run so they price cold compute).
  *
  * Every stage is declared here rather than by its owner: Scala objects
  * initialize lazily, so owner-side registration would hide the stages
  * of any owner a run never touched. Each stage has its own lock, held
  * across its build; there is no global lock, because one build may ask
  * for another stage (dedup reads cand) and stages warm concurrently.
  * Such calls must never form a cycle between stages. */
object SharedStages {

  final class Stage[V] private[SharedStages] (val name: String,
      val cap: Int) {
    private val entries = mutable.LinkedHashMap.empty[Any, V]
    private val perKey = mutable.LinkedHashMap.empty[String, (Long, Long)]
    private var hits = 0L
    private var misses = 0L

    def get(key: Any)(build: => V): V = synchronized {
      val l = label(key)
      val (h, m) = perKey.getOrElse(l, (0L, 0L))
      entries.get(key) match {
        case Some(v) =>
          hits += 1; perKey(l) = (h + 1, m); v
        case None =>
          misses += 1; perKey(l) = (h, m + 1)
          val v = build
          if (entries.size >= cap) {
            val (k0, v0) = entries.head
            entries.remove(k0)
            release(v0)
          }
          entries(key) = v
          v
      }
    }

    /** (hits, misses) since the JVM started. */
    def telemetry: (Long, Long) = synchronized { (hits, misses) }

    /** (key label, hits, misses) in first-seen order. */
    def telemetryByKey: Seq[(String, Long, Long)] = synchronized {
      perKey.toSeq.map { case (k, (h, m)) => (k, h, m) }
    }

    def size: Int = synchronized { entries.size }

    def clear(): Unit = synchronized {
      entries.values.foreach(release)
      entries.clear()
    }
  }

  val ld = new Stage[DataFrame]("ld_shared_stage", 24)
  val sa = new Stage[DataFrame]("sa_shared_stage", 4)
  val ehh = new Stage[DataFrame]("ehh_shared_stage", 4)
  val saBuild = new Stage[DataFrame]("sa_build_stage", 4)
  val dedup = new Stage[DataFrame]("dedup_shared_stage", 12)
  val kmeans = new Stage[DataFrame]("kmeans_shared_stage", 4)
  val bpe = new Stage[Seq[(Int, String, String, String, Long)]](
    "bpe_shared_stage", 4)
  val ceu = new Stage[DataFrame]("ceu_shared_stage", 2)
  val roh = new Stage[DataFrame]("roh_shared_stage", 4)
  val simjoin = new Stage[DataFrame]("simjoin_shared_stage", 4)
  val site = new Stage[DataFrame]("site_shared_stage", 2)
  val lsh = new Stage[(DataFrame, DataFrame)]("lsh_shared_stage", 4)
  val merge = new Stage[DataFrame]("merge_shared_stage", 4)
  val cand = new Stage[DataFrame]("cand_shared_stage", 4)

  val all: Seq[Stage[_]] = Seq(ld, sa, ehh, saBuild, dedup, kmeans, bpe,
    ceu, roh, simjoin, site, lsh, merge, cand)

  def clearAll(): Unit = all.foreach(_.clear())

  /** Unpersists every `Dataset` inside a stage value. */
  private def release(v: Any): Unit = v match {
    case d: Dataset[_] => d.unpersist(blocking = false)
    case it: Iterable[_] => it.foreach(release)
    case p: Product => p.productIterator.foreach(release)
    case _ =>
  }

  /** Readable per-key label: tuple parts joined by `/`, a plan as its
    * hash (`p=…`), a column list joined by `+`. */
  private def label(key: Any): String = key match {
    case p: LogicalPlan => "p=" + Integer.toHexString(p.hashCode)
    case s: Seq[_] => s.mkString("+")
    case t: Product => t.productIterator.map(label).mkString("/")
    case other => String.valueOf(other)
  }
}
