package graft.tools

import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** Fit scaling curve: runMain graft.tools.FitScale [rows] [reps].
  * Generates (once) a deterministic hash-uniform points parquet of the
  * requested size under target/ — the same scheme as Bench's 10M
  * scratch — and times the 10-iteration production fit over it. The
  * point is the slope: the fit's per-superstep cost is one scan + a
  * k-row aggregate, so time should grow ~linearly in rows while the
  * baseline comparison point stays the reference's 90.8 s at 10M/p=4. */
object FitScale {
  def main(args: Array[String]): Unit = {
    val rows = args.headOption.map(_.toLong).getOrElse(100000000L)
    val reps = args.drop(1).headOption.map(_.toInt).getOrElse(2)
    val spark = graft.Sessions.create("FitScale", cores = 32)

    val path = s"target/bench_points_${rows}.parquet"
    if (!new java.io.File(path, "_SUCCESS").exists()) {
      val t0 = System.nanoTime()
      spark.range(0, rows, 1, 64)
        .select(col("id").as("pid"),
          (pmod(xxhash64(col("id"), lit(1)), lit(10000000L)) / 100.0).as("x"),
          (pmod(xxhash64(col("id"), lit(2)), lit(10000000L)) / 100.0).as("y"))
        .write.mode("overwrite").parquet(path)
      println(f"FITSCALE gen rows=$rows ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    val pts = spark.read.parquet(path)
    val init = pts.orderBy("pid").limit(8).collect().zipWithIndex
      .map { case (r, i) => graft.kmeans.Cent(i, r.getDouble(1), r.getDouble(2)) }.toSeq
    val times = (1 to reps).map { r =>
      val t0 = System.nanoTime()
      val res = graft.kmeans.KMeansFit.fit(pts, init,
        graft.kmeans.KMeansConfig(k = 8, maxIter = 10, convergence = false),
        exact = false)
      val s = (System.nanoTime() - t0) / 1e9
      println(f"FITSCALE rows=$rows rep=$r $s%.2f s" +
        s" c0=${res.centroids.minBy(_.cid)}")
      s
    }
    // peak heap across all memory pools since JVM start — the "does the
    // fit fit in memory" number for the scaling claim
    val peakHeapGb = java.lang.management.ManagementFactory.getMemoryPoolMXBeans
      .asScala.filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1e9
    // Persist for Bench to embed in BENCH_DETAIL.json's "fit100m" (the
    // 100M fit is too heavy to re-run every bench round; this artifact
    // carries the last at-HEAD measurement instead).
    if (rows == 100000000L) {
      val json = f"""{"rows":$rows,"runs":${times.map(t => f"$t%.2f")
        .mkString("[", ",", "]")},"sec_per_iter":${times.min / 10}%.3f,""" +
        f""""peak_heap_gb":$peakHeapGb%.1f,"iters":10,"k":8}"""
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get("target/fit100m.json"), json)
      println(s"FITSCALE wrote target/fit100m.json: $json")
    }
    spark.stop()
  }
}
