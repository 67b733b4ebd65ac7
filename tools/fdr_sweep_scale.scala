// Times the index pipeline's PSM FDR, TargetDecoy.withSweptQAndFdrScore,
// on NROWS synthetic narrow PSM rows (a psmId string, 10% decoys, a random
// score) and prints one JSON line: wall and process CPU of the FDR alone
// (the input is generated and cached first), peak heap (the sum of each
// heap pool's peak, an upper bound), the 1-minute load
// average, and a checksum of the q and FDR-score columns. The sweep sorts
// every row into one task, so this re-checks at any size that one task
// still completes in the driver's memory.
//
// Run from the repository root after `sbt compile`:
//   NROWS=8000000 /opt/spark/bin/spark-shell --master 'local[4]' \
//     --driver-memory 6g --conf spark.sql.shuffle.partitions=4 \
//     --conf spark.ui.enabled=false \
//     --driver-class-path target/scala-2.13/classes \
//     -I tools/fdr_sweep_scale.scala < /dev/null
import java.lang.management.{ManagementFactory, MemoryType}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

locally { // one block: the shell would read a bare script line by line
  val rows = sys.env.getOrElse("NROWS", "8000000").toLong
  val input = spark.range(rows).select(
      concat(lit("psm"), col("id").cast("string")).as("psmId"),
      (rand(7) * 100).as("score"),
      (rand(11) < 0.1).as("isDecoy"))
    .persist(StorageLevel.MEMORY_AND_DISK)
  require(input.count() == rows)

  val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  val heap = ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)
  System.gc()
  heap.foreach(_.resetPeakUsage())
  val cpu0 = os.getProcessCpuTime
  val wall0 = System.nanoTime
  val sums = graft.fdr.TargetDecoy
    .withSweptQAndFdrScore(input, "psmId", col("score"), col("isDecoy"))
    .agg(count(lit(1)), sum(col("q")), sum(col("fdrScore"))).head()
  val wall = (System.nanoTime - wall0) / 1e9
  val cpu = (os.getProcessCpuTime - cpu0) / 1e9
  val heapPeakMb = heap.map(_.getPeakUsage.getUsed).sum / 1048576.0
  require(sums.getLong(0) == rows)
  println(f"""{"tool": "fdr_sweep_scale", "nrows": $rows, "wall_s": $wall%.2f, """ +
    f""""cpu_s": $cpu%.2f, "heap_peak_mb": $heapPeakMb%.0f, """ +
    f""""max_heap_mb": ${Runtime.getRuntime.maxMemory / 1048576.0}%.0f, """ +
    f""""load1": ${os.getSystemLoadAverage}%.2f, """ +
    s""""checksum_q": ${sums.getDouble(1)}, "checksum_fdr_score": ${sums.getDouble(2)}}""")
  input.unpersist()
}
sys.exit(0)
