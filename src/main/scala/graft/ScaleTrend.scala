package graft

import org.apache.spark.sql.graftshim.GraftSession

/** Scale-trend evidence: run the headline operator families at two
  * fixture scales (sf0.01 → sf0.1, a 10× data ratio) and assert
  * wall-time grows at most ~linearly. The 100 TB scale claims are
  * design-argued (bounded pools, banding caps, broadcast-sized frames)
  * and plan-probe-asserted (`ExplainCheck`); this artifact adds the
  * measured data point of the TREND — a family whose cost curve bends
  * quadratic between the two fixtures fails here before it ships.
  *
  * Band, not exact: timings at these sizes carry seconds of fixed
  * overhead (JVM, planning, state-store setup), which makes measured
  * ratios UNDERSHOOT the data ratio; the bound only has to catch
  * super-linear growth. A family is flagged when
  * t_large > bound × max(t_small, floor) with bound = 12×
  * (10× data + 20% tolerance) and a 0.3 s floor so micro-gates' jitter
  * can't divide by near-zero.
  *
  * Writes SCALE_TREND.json (committed per round) and exits nonzero on a
  * violation.
  */
object ScaleTrend {
  private val Families = Seq(
    "q_kv_scan",            // DSv2 scan + pushdown
    "q_dedup_minhash_lsh",  // banded sketch dedup
    "q_ann_ivf_indexed",    // persisted-index ANN probe
    "q_ann_graph_indexed",  // graph-walk ANN (capped build + bounded walk)
    "q_doc_decontaminate",  // broadcast benchmark, corpus never shuffles
    "q_events_sessionize",  // session-window aggregation
    "q_tokenizer_unigram",  // Viterbi-EM trainer (word-TYPE table passes)
    "q_doc_bm25_indexed",   // persisted postings build + probe read
    "q_kv_zorder",          // multi-dim clustering rewrite + pruned scan
    "q_corpus_hll",         // one-pass sketch aggregation (map-side combined)
    "q_ann_binary_indexed", // 1-bit tier: 32×-smaller code-column scan
    "q_ann_ivfpq_residual_indexed", // residual IVFADC: per-probed-cell tables
    "q_sample_bottomk_merge", // persisted sample tables + bottom-k rollup
    "q_probe_join_size_incremental") // join-key synopsis append + rollup estimate

  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.build(s"local[$cpus]")

    val small = sys.env.getOrElse("SPARK_GRAFT_SF_SMALL", "/root/testdata/sf0.01")
    val large = sys.env.getOrElse("SPARK_GRAFT_SF_LARGE", "/root/testdata/sf0.1")
    val dataRatio = 10.0
    val bound = 12.0 // 10x data + 20% tolerance
    val floorSec = 0.3
    val runs = sys.env.getOrElse("SPARK_GRAFT_TREND_RUNS", "3").toInt

    def run(name: String, dir: String): Double = GraftSession.runGate(spark) { s =>
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(s, dir).write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    def med(xs: Seq[Double]): Double = xs.sorted.apply(xs.length / 2)

    // warmup (JVM/codegen + the first fixture read), unmeasured
    run("q1_pricing_summary", small)
    run(Families.head, small)

    val rows = Families.map { f =>
      val tSmall = med((0 until runs).map(_ => run(f, small)))
      val tLarge = med((0 until runs).map(_ => run(f, large)))
      val ratio = tLarge / math.max(tSmall, floorSec)
      val ok = tLarge <= bound * math.max(tSmall, floorSec)
      System.err.println(f"[scale-trend] $f%-24s $tSmall%7.2fs -> $tLarge%7.2fs  ratio ${ratio}%5.2f  ${if (ok) "OK" else "VIOLATION"}")
      (f, tSmall, tLarge, ratio, ok)
    }

    def r2(v: Double): Double = math.rint(v * 100) / 100
    val famJson = rows.map { case (f, ts, tl, r, ok) =>
      "\"" + f + "\":{\"sec_small\":" + r2(ts) + ",\"sec_large\":" + r2(tl) +
        ",\"ratio\":" + r2(r) + ",\"ok\":" + ok + "}"
    }.mkString("{", ",", "}")
    val allOk = rows.forall(_._5)
    val json = s"""{"small":"$small","large":"$large","data_ratio":$dataRatio,""" +
      s""""bound":$bound,"floor_sec":$floorSec,"runs":$runs,""" +
      s""""families":$famJson,"pass":$allOk}"""
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(sys.env.getOrElse("SPARK_GRAFT_TREND_OUT",
        "SCALE_TREND.json")), json + "\n")
    println(json)
    spark.stop()
    require(allOk, "scale-trend violation: a family grew super-linearly " +
      "between sf0.01 and sf0.1 — see SCALE_TREND.json")
  }
}
