package graft

import org.apache.hadoop.fs.Path
import org.json4s._
import graft.sources.ParquetIO
import graft.sources.kv.{KvBloom, KvSidecar}

/** Planning-sidecar micro-benchmark: the cost of consulting the sharded
  * Bloom sidecar ([[graft.sources.kv.KvSidecar]] layout) during query
  * planning, as a function of table file count — the measurement behind
  * BASELINE.md's "planning cost holds at large file counts" claim.
  *
  * What it measures (the exact read path `KvScan.prunedGroups` runs):
  *  - COLD plan: caches dropped, `KvBloom.reader` (one sidecar
  *    `listStatus`) + one `bloomsFor` probe per live file (shard parse
  *    on first touch, then entry decode).
  *  - WARM plan: same probes with signature caches populated — the
  *    steady state, since shard files are immutable once published.
  *  - MONOLITH ×3 (the round-8 cost model, simulated): every entry in
  *    ONE JSON blob, parsed once per scan consultation (Spark consults
  *    a scan ~3× per plan: estimateStatistics / planInputPartitions /
  *    outputOrdering). This is what the sharded + memoized layout
  *    replaced.
  *
  * Entries are synthesized (1000-row files, 10 bits/key ≈ 1.7 KB base64
  * per entry) — the sidecar layer doesn't care whether parquet bytes
  * exist, and building 10k real files would bench the writer instead.
  *
  * Run: `sbt "runMain graft.SidecarBench [outDir]"`; prints one JSON
  * line per file count.
  */
object SidecarBench {

  private def timeMs[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e6)
  }

  def main(args: Array[String]): Unit = {
    val base = if (args.nonEmpty) args(0)
      else sys.props("java.io.tmpdir") + "/graft_sidecar_bench"
    ParquetIO.deletePath(base)
    val rowsPerFile = 1000L
    val conf = KvBloom.Conf(Seq("k"), bitsPerKey = 10)
    val rnd = new java.util.Random(42)

    Seq(1000, 10000).foreach { n =>
      val dir = s"$base/n$n"
      new Path(dir).getFileSystem(ParquetIO.hadoopConf).mkdirs(new Path(dir))
      val numShards = KvSidecar.numShardsFor(n)
      // synthesize per-file entries exactly as KvBloom.build writes them
      // one shared filter body is fine — planning cost is parse+decode,
      // not bit content; keep it deterministic
      val bytes = new Array[Byte](conf.width(rowsPerFile) / 8)
      rnd.nextBytes(bytes)
      val entryJson = conf.entry(rowsPerFile)(_ => bytes)
      val files = (0 until n).map { i =>
        (f"part-$i%05d-bench.parquet", 1000L + i, 1700000000000L + i)
      }
      KvSidecar.publish(dir, KvBloom.SidecarName, conf.meta(numShards)) { tmp =>
        val fs = tmp.getFileSystem(ParquetIO.hadoopConf)
        KvSidecar.stageEntries(fs, tmp, numShards,
          files.iterator.map { case (f, len, mt) => (f, len, mt, entryJson) })
      }

      // the real planning probe: one reader + one bloomsFor per file
      def planOnce(): Int = {
        val r = KvBloom.reader(dir).getOrElse(sys.error("sidecar missing"))
        files.count { case (f, len, mt) => r.bloomsFor(f, len, mt).isDefined }
      }

      KvSidecar.clearCaches()
      val (covered, cold) = timeMs(planOnce())
      require(covered == n, s"expected $n covered files, got $covered")
      val warm = (1 to 3).map(_ => timeMs(planOnce())._2).min
      val parses = KvSidecar.parseCount.get()

      // the monolithic cost model this layout replaced: all entries in
      // one JSON blob, re-parsed per scan consultation (3× per plan)
      val monolith = files.map { case (f, len, mt) =>
        s"""{"file":"$f","len":$len,"mtime":$mt,"e":$entryJson}"""
      }.mkString("[", ",", "]")
      val (_, mono3) = timeMs {
        (1 to 3).foreach { _ =>
          org.json4s.jackson.JsonMethods.parse(monolith) match {
            case JArray(vs) => require(vs.length == n)
            case _ => sys.error("bad monolith")
          }
        }
      }

      println(s"""{"metric":"sidecar_plan","files":$n,"numShards":$numShards,""" +
        s""""coldPlanMs":${cold.round},"warmPlanMs":${warm.round},""" +
        s""""coldPerFileUs":${(cold * 1000 / n).round},""" +
        s""""warmPerFileUs":${(warm * 1000 / n).round},""" +
        s""""monolith3xMs":${mono3.round},"monolithBytes":${monolith.length},""" +
        s""""shardParses":$parses}""")
    }
    ParquetIO.deletePath(base)
  }
}
