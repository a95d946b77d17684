package graft.perfbench

import java.lang.management.ManagementFactory

/** Host facts recorded with every run, and the live-heap gauge. */
object Host {

  /** Worker threads / `local[N]` slots every workload is configured for. */
  val Slots = 4

  def facts(): Map[String, Any] = {
    val os = ManagementFactory.getOperatingSystemMXBean
    Map(
      "jvm_available_processors" -> Runtime.getRuntime.availableProcessors(),
      "max_heap_mb" -> Runtime.getRuntime.maxMemory() / 1e6,
      "jvm_version" -> System.getProperty("java.version"),
      "jvm_vendor" -> System.getProperty("java.vm.name"),
      "load_average_1m" -> os.getSystemLoadAverage,
      "slots" -> Slots)
  }

  private val memory = ManagementFactory.getMemoryMXBean

  /** Heap occupancy (MB) right after a full collection. */
  def liveHeapMb(): Double = {
    System.gc()
    memory.getHeapMemoryUsage.getUsed / 1e6
  }

  private val threads =
    ManagementFactory.getThreadMXBean.asInstanceOf[com.sun.management.ThreadMXBean]

  /** Bytes allocated so far by the calling thread (exact, per thread). */
  def allocatedBytes(): Long = threads.getCurrentThreadAllocatedBytes
}

/** Takes [[Host.liveHeapMb]] readings at most every `everyNs` during
  * timed work and keeps the largest. Readings happen between timed calls
  * or passes, so the collection they force is never inside a timing.
  */
final class HeapGauge(everyNs: Long = 2000000000L) {
  private var last = System.nanoTime()
  var maxMb: Double = 0.0

  def maybeRead(): Unit =
    if (System.nanoTime() - last >= everyNs) read()

  def read(): Unit = {
    maxMb = math.max(maxMb, Host.liveHeapMb())
    last = System.nanoTime()
  }
}
