package graft

import java.nio.file.Paths
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Dataset

/** The one per-JVM memo of DATASET-derived artifacts: trained models
  * (subword vocabularies, ML weights, IVF/PQ quantizers), the cached
  * vocab table, base-table row counts and on-disk derived layouts. An
  * artifact is a property of the dataset, not of any query, so it is
  * produced once per (kind, absolute data dir, content signature of
  * the kind's source table, parameters). The [[U.dirSignature]] in the
  * key makes a dataset rewritten in place re-produce instead of
  * serving a stale artifact. No eviction: the key space is datasets ×
  * kinds × parameter sets, all small.
  *
  * Re-entrant: the map holds one [[Cell]] per key and the producer
  * runs OUTSIDE `computeIfAbsent`, under the cell's own lock. So
  * concurrent callers of one key produce once and share the value, a
  * producer may `get` another key (the cell-partitioned embeddings
  * layout trains its IVF quantizer), and a producer that throws caches
  * nothing. Producing inside `ConcurrentHashMap.computeIfAbsent`
  * instead throws "Recursive update" whenever a nested key lands in
  * the same hash bin.
  *
  * Every [[get]] notes `artifact.<kind>` = `hit` or its produce ms in
  * [[Attrib]], so a bench record shows which queries trained.
  */
object Artifacts {
  /** A typed last-served slot, read by the oracle builders: graft.Verify
    * dumps oracle SQL AFTER running the queries, so by dump time a slot
    * holds the artifact the verified dataset was served. */
  class Slot[A](val name: String)

  /** A memoized artifact kind derived from `table` of a dataset dir;
    * [[get]] records each value it serves in the kind's own slot. */
  final class Kind[A](name: String, val table: String) extends Slot[A](name)

  private final class Cell { @volatile var value: Any = null }

  private val cells =
    new ConcurrentHashMap[(String, String, Long, Seq[Any]), Cell]()
  private val served = new ConcurrentHashMap[String, Any]()

  /** The `kind` artifact of dataset dir `d` with `params`, produced on
    * first use. */
  def get[A](kind: Kind[A], d: String, params: Any*)(produce: => A): A = {
    val dir = Paths.get(d).toAbsolutePath
    val key = (kind.name, dir.toString,
      U.dirSignature(dir.resolve(s"${kind.table}.parquet")), params)
    var out: Any = null
    while (out == null) {
      val cell = cells.computeIfAbsent(key, _ => new Cell)
      cell.synchronized {
        if (cell.value != null) {
          out = cell.value
          Attrib.note(s"artifact.${kind.name}", "hit")
        } else if (cells.get(key) eq cell) {
          val t0 = System.nanoTime()
          try {
            val v: Any = produce
            require(v != null, s"artifact ${kind.name} produced null")
            cell.value = v
          } finally if (cell.value == null) cells.remove(key, cell)
          out = cell.value
          Attrib.note(s"artifact.${kind.name}",
            (System.nanoTime() - t0) / 1000000L)
        }
        // else a failed producer (or clear()) dropped this cell: retry
      }
    }
    serve(kind, out.asInstanceOf[A])
  }

  /** Record `a` as `slot`'s last-served value. */
  def serve[A](slot: Slot[A], a: A): A = { served.put(slot.name, a); a }

  def last[A](slot: Slot[A]): Option[A] =
    Option(served.get(slot.name)).map(_.asInstanceOf[A])

  /** Drop every artifact and last-served value, unpersisting cached
    * Datasets. */
  def clear(): Unit = {
    val dropped = cells.values.asScala.toList
    cells.clear()
    served.clear()
    dropped.foreach(_.value match {
      case ds: Dataset[_] => ds.unpersist()
      case _ =>
    })
  }
}
