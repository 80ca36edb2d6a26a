package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.checker.{DiffCheck, DiffLatency, FullCheck, ScaleCheck}
import graft.model.{Stores, TpchGraph}
import graft.operators.{Dedup, HyperBall, Iterative, PageRank}
import graft.streaming.Backup

/** One workload: `setup` makes the seeded inputs and warms the JVM,
  * `cycle` is one pass over the workload's cold operations. */
trait Workload {
  def setup(h: Harness, rep: Int): Unit
  def cycle(h: Harness): Unit
  /** a short fixed operation, timed traced and untraced to measure the
    * tracing overhead */
  def probe(s: SparkSession): Unit
  /** figures a user of this workload reads, keyed by name, from the
    * recorded operations */
  def figures(ops: Seq[OpResult]): Seq[(String, Double, String)]
}

object Workload {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  def walls(ops: Seq[OpResult], name: String): Seq[Double] =
    ops.filter(o => o.name == name && o.ok).map(_.wallS)

  /** records per second of the named operation's total wall */
  def rate(ops: Seq[OpResult], name: String): Double = {
    val ok = ops.filter(o => o.name == name && o.ok)
    ok.map(_.records).sum / ok.map(_.wallS).sum
  }

  def noop(df: DataFrame): Unit = df.write.mode("overwrite").format("noop").save()

  def rm(f: java.io.File): Unit = {
    if (f.isDirectory) f.listFiles().foreach(rm)
    f.delete(); ()
  }

  def apply(name: String, seed: Long, work: String): Workload = name match {
    case "store_lifecycle" => new StoreLifecycle(seed, work)
    case "analytics" => new Analytics(seed, work)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
}

/** Derive + full check of a generated store with seeded corruption,
  * full backup, three incrementals, a verified restore, then the diff
  * check of seeded per-transaction batches. */
final class StoreLifecycle(seed: Long, work: String, nodes: Long = 10000L) extends Workload {
  import Workload._
  val Corrupt = 12
  val Cuts = Seq(0.7, 0.8, 0.9, 1.0)
  val TxOps = 6
  val TxPerOp = 10
  val RecordsPerTx = 20
  private var corrupt: Seq[Long] = Nil
  /** cut -> per store: row count and fingerprint of the id prefix */
  private var reference = Map.empty[Double, Map[String, (Long, Long)]]
  private var tx = 0

  private def storeSeq(s: Stores): Seq[(String, DataFrame)] = Seq(
    "nodes" -> s.nodes, "rels" -> s.rels, "neo" -> s.neo, "props" -> s.props,
    "blocks" -> s.blocks, "dyns" -> s.dyns, "arrays" -> s.arrays,
    "rel_types" -> s.relTypes, "prop_keys" -> s.propKeys,
    "type_names" -> s.typeNames, "key_names" -> s.keyNames)
  private def idCol(store: String) = if (store == "blocks") "prop_id" else "id"

  private def slice(s: Stores, maxIds: Map[String, Long], frac: Double): Stores = {
    val cut = storeSeq(s).map { case (n, df) =>
      n -> df.filter(col(idCol(n)) <= (maxIds(n) * frac).toLong) }.toMap
    Stores(cut("nodes"), cut("rels"), cut("neo"), cut("props"), cut("blocks"),
      cut("dyns"), cut("arrays"), cut("rel_types"), cut("prop_keys"),
      cut("type_names"), cut("key_names"))
  }

  /** Per store and per cut: row count and an order-insensitive
    * checksum of the rows with id <= cut (one job over all stores). */
  private def fingerprints(s: Stores, cuts: Map[String, Seq[Long]]): Map[String, Seq[(Long, Long)]] = {
    val mod = 1000000007L
    val rows = storeSeq(s).map { case (n, df) =>
      df.select(lit(n).as("store"), col(idCol(n)).as("rid"),
        pmod(xxhash64(df.columns.sorted.map(col): _*), lit(mod)).as("h"))
    }.reduce(_ unionAll _)
    val aggs = cuts.values.head.indices.flatMap { i =>
      val cut = cuts.map { case (n, c) => (col("store") === n) && (col("rid") <= c(i)) }.reduce(_ || _)
      Seq(sum(when(cut, 1L).otherwise(0L)).as(s"n$i"),
        sum(when(cut, col("h")).otherwise(0L).cast("decimal(38,0)")).as(s"h$i"))
    }
    rows.groupBy("store").agg(aggs.head, aggs.tail: _*).collect().map { r =>
      r.getString(0) -> cuts.values.head.indices.map { i =>
        (r.getLong(1 + 2 * i), r.getDecimal(2 + 2 * i).remainder(java.math.BigDecimal.valueOf(mod)).longValue)
      }
    }.toMap
  }

  /** the seeded corruption: chosen relationships get a type id outside
    * the dictionary, which the check must flag on exactly those ids */
  private def corrupted(s: Stores, ids: Seq[Long]): Stores =
    s.copy(rels = s.rels.withColumn("type_id",
      when(col("id").isin(ids: _*), lit(77)).otherwise(col("type_id"))))

  /** Transaction batch `i`: seeded tx ids, plus seeded extra dangling
    * pointers on records that [[DiffLatency.batchDiffs]] makes clean
    * (its even slots point at a relationship inside the tx). Returns
    * the batch's diffs and its exact violation count. */
  def batch(s: SparkSession, i: Int): (DiffCheck.TxDiffs, Long) = {
    val txs = Inputs.distinct(seed, s"tx-$i", TxPerOp, 1L, 1000000L)
    val rnd = new scala.util.Random(seed * 7919L + i)
    val extra = txs.flatMap { tx =>
      (0 until RecordsPerTx by 2).filter(_ => rnd.nextInt(4) == 0).map(k => tx * 1000000L + k)
    }
    val d = DiffLatency.batchDiffs(s, txs, RecordsPerTx)
    val nodes = d.nodes.withColumn("o_next_rel",
      when(col("id").isin(extra: _*), col("id") + 900000L).otherwise(col("o_next_rel")))
    (d.copy(nodes = nodes), txs.size.toLong * (RecordsPerTx / 2) + extra.size)
  }

  def setup(h: Harness, rep: Int): Unit = {
    val s = h.freshSession()
    val n = nodes
    corrupt = Inputs.distinct(seed, "store-corrupt", Corrupt, n + 1, n + 1 + 3 * n)
    tx = 0
    // warm-up: one diff check
    val (d, _) = batch(s, -1 - rep)
    DiffCheck.violationsFromDiffs(d).count()
  }

  def cycle(h: Harness): Unit = {
    val s = h.freshSession()
    val n = nodes
    val ids = corrupt
    val elements = 8 * n // nodes + 3n rels + 4n props, as ScaleCheck counts them
    val stores = h.op("ccheck", elements) {
      val st = h.span("derive")(ScaleCheck.storesCached(s, n))
      val flagged = h.span("check")(FullCheck.violations(corrupted(st, ids))
        .select("record_type", "record_id").collect())
      (st, flagged)
    } { case (_, flagged) =>
      val got = flagged.map(r => (r.getString(0), r.getLong(1))).toSet
      val want = ids.map(i => ("relationship", i)).toSet
      if (got == want && flagged.length == ids.size) None
      else Some(s"flagged ${got.size} records, ${(got -- want).size} unexpected, ${(want -- got).size} missed")
    }.map(_._1)
    stores.foreach { st =>
      val maxIds = storeSeq(st).map { case (nm, df) =>
        df.agg(coalesce(max(col(idCol(nm))), lit(-1L)).as("m")).select(lit(nm), col("m")) }
        .reduce(_ unionAll _)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      if (reference.isEmpty) {
        val fp = fingerprints(st, maxIds.map { case (k, m) => k -> Cuts.map(c => (m * c).toLong) })
        reference = Cuts.zipWithIndex.map { case (c, i) => c -> fp.map { case (k, v) => k -> v(i) } }.toMap
      }
      def rows(c: Double) = reference(c).values.map(_._1).sum
      val dir = s"$work/backup-${h.cycle}"
      rm(new java.io.File(dir))
      val full = h.op("backup_full", rows(0.7)) {
        h.span("backup_full")(Backup.fullStores(slice(st, maxIds, 0.7), dir))
      }(_ => None)
      if (full.isDefined) {
        var prev = 0.7
        val incrOk = Cuts.tail.forall { c =>
          val want = reference(c).map { case (k, v) => k -> (v._1 - reference(prev)(k)._1) }
          prev = c
          h.op("backup_incr", want.values.sum) {
            h.span("backup_incr")(Backup.incrementalStores(slice(st, maxIds, c), dir))
          } { shipped =>
            if (shipped == want) None else Some(s"shipped $shipped, expected $want")
          }.isDefined
        }
        if (incrOk) h.op("restore_verify", elements) {
          h.span("restore_verify") {
            val restored = Backup.restoreStores(s, dir)
            (restored, FullCheck.violations(restored).count())
          }
        } { case (restored, violations) =>
          val got = fingerprints(restored, maxIds.map { case (k, m) => k -> Seq(m) }).map { case (k, v) => k -> v.head }
          val want = reference(1.0)
          if (violations != 0) Some(s"restored copy has $violations violations")
          else if (got != want) Some(s"restored stores differ: ${want.keySet.filter(k => got.get(k) != want.get(k)).mkString(",")}")
          else None
        }
      }
      rm(new java.io.File(dir))
    }
    (0 until TxOps).foreach { _ =>
      val ts = h.freshSession()
      val i = tx
      tx += 1
      h.op("tx", TxPerOp.toLong * RecordsPerTx) {
        h.span("tx") { val (d, want) = batch(ts, i); (DiffCheck.violationsFromDiffs(d).count(), want) }
      } { case (v, want) => if (v == want) None else Some(s"$v violations, expected $want") }
    }
  }

  def probe(s: SparkSession): Unit = {
    DiffCheck.violationsFromDiffs(batch(s, 1000000)._1).count(); ()
  }

  def figures(ops: Seq[OpResult]): Seq[(String, Double, String)] = {
    val ms = walls(ops, "tx").map(_ * 1e3).sorted
    // the highest percentile with at least ten samples beyond it
    val tailIdx = ms.size - 11
    val tail = if (tailIdx >= 0) (ms(tailIdx), 100.0 * (tailIdx + 1) / ms.size) else (Double.NaN, Double.NaN)
    Seq(("ccheck_records_per_s", rate(ops, "ccheck"), "1/s"),
      ("backup_full_s", median(walls(ops, "backup_full")), "s"),
      ("backup_incr_records_per_s", rate(ops, "backup_incr"), "1/s"),
      ("restore_verify_s", median(walls(ops, "restore_verify")), "s"),
      ("tx_check_p50_ms", median(ms), "ms"), ("tx_check_tail_ms", tail._1, "ms"),
      ("tx_check_tail_pct", tail._2, "%"), ("tx_check_samples", ms.size.toDouble, "count"))
  }
}

/** Fixpoint and dedup operators over a seeded TPC-H-shaped corpus.
  * Each graph operator runs in its own fresh session; the dedup pair
  * and cluster steps share one, as a pipeline would; then the cluster
  * query runs once more on its own in a fresh session, as a single
  * query does. */
final class Analytics(seed: Long, work: String, orders: Long = 1000L, docs: Long = 300L)
    extends Workload {
  import Workload._
  private var dir = ""
  /** query name -> parquet output dirs the oracle comparison reads */
  val outputs = scala.collection.mutable.ArrayBuffer[(String, String, String)]()

  val graphOps: Seq[(String, String, (SparkSession, String) => DataFrame)] = Seq(
    ("cc", "it_connected_components", (s, d) => Iterative.connectedComponents(s, d)),
    ("pagerank", "it_pagerank", (s, d) => PageRank.topRanks(s, d)),
    ("hyperball", "it_hyperball", (s, d) => HyperBall.hyperball(s, d)))

  def setup(h: Harness, rep: Int): Unit = {
    dir = s"$work/data-$rep"
    val s = h.freshSession()
    Inputs.writeTpch(s, dir, seed, orders, docs)
  }

  /** writes an output for the oracle comparison, which runs after the JVM */
  private def save(h: Harness, op: String, query: String, df: DataFrame): Option[String] = {
    val out = s"$work/out/$query/c${h.cycle}"
    df.write.mode("overwrite").parquet(out)
    outputs += ((op, query, out))
    None
  }

  def cycle(h: Harness): Unit = {
    graphOps.foreach { case (name, query, run) =>
      val s = h.freshSession()
      var records = 0L // graph nodes + rels, known once the graph is built
      h.op(name, records) {
        records = h.span("graph") { TpchGraph.nodes(s, dir).count() + TpchGraph.rels(s, dir).count() }
        h.span(name) { val df = run(s, dir); noop(df); df }
      }(df => save(h, name, query, df))
    }
    val s = h.freshSession()
    h.op("dedup_pairs", docs) {
      h.span("dedup_pairs") {
        val a = Dedup.ngramJaccard(s, dir); noop(a)
        val b = Dedup.minhashLsh(s, dir); noop(b)
        (a, b)
      }
    } { case (a, b) => save(h, "dedup_pairs", "dd_ngram_jaccard", a); save(h, "dedup_pairs", "dd_minhash_lsh", b) }
    h.op("dedup_clusters", docs) {
      h.span("dedup_clusters") { val c = Dedup.dedupClusters(s, dir); noop(c); c }
    }(c => save(h, "dedup_clusters", "dd_clusters", c))
    // Cold, the pair table it builds on is persisted but not yet
    // materialised, and Iterative.sizedPartitions sizes the cluster
    // rounds' repartition from that cache's plan estimate (ROADMAP item
    // 0): 10^5 to 10^6 partitions even for a tiny corpus, which the
    // stage-task cap fails. It stays in the cycle, and counts as failed, until the
    // sizing is fixed.
    val cold = h.freshSession()
    h.op("dedup_clusters_cold", docs) {
      h.span("dedup_clusters_cold") { val c = Dedup.dedupClusters(cold, dir); noop(c); c }
    }(c => save(h, "dedup_clusters_cold", "dd_clusters", c))
    ()
  }

  def probe(s: SparkSession): Unit = {
    TpchGraph.nodes(s, dir).count() + TpchGraph.rels(s, dir).count(); ()
  }

  def dataDir: String = dir

  def figures(ops: Seq[OpResult]): Seq[(String, Double, String)] =
    Seq("cc", "pagerank", "hyperball", "dedup_pairs", "dedup_clusters", "dedup_clusters_cold")
      .map(n => (s"${n}_s", median(walls(ops, n)), "s"))
}
