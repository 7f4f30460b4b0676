package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

/** Per-job-group task-metric totals (shuffle write and disk spill bytes)
  * for the bench mains. Attribution rides the job group id (set around each
  * measured run), so asynchronously-delivered events from a previous run
  * can never pollute the next one's counters — each event carries its own
  * group. AQE's runtime-spawned jobs inherit the group from the submitting
  * thread, so re-planned stages count too.
  */
private[graft] final class BytesListener extends SparkListener {
  final class Counters { val shuffle = new AtomicLong; val spill = new AtomicLong }
  private val byGroup = new ConcurrentHashMap[String, Counters]()
  private val stageToGroup = new ConcurrentHashMap[Int, String]()
  private val events = new AtomicLong

  override def onJobStart(js: SparkListenerJobStart): Unit = {
    val g = Option(js.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    g.foreach(grp => js.stageIds.foreach(sid => stageToGroup.put(sid, grp)))
  }
  override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
    val grp = stageToGroup.get(te.stageId)
    if (grp != null && te.taskMetrics != null) {
      val c = byGroup.computeIfAbsent(grp, _ => new Counters)
      c.shuffle.addAndGet(te.taskMetrics.shuffleWriteMetrics.bytesWritten)
      c.spill.addAndGet(te.taskMetrics.diskBytesSpilled)
    }
    events.incrementAndGet()
  }

  def totals(group: String): (Long, Long) = {
    val c = byGroup.get(group)
    if (c == null) (0L, 0L) else (c.shuffle.get, c.spill.get)
  }
  /** Listener delivery is async; poll ONCE, globally, until the event
    * count is stable across two reads (bounded) instead of reaching into
    * the private listener-bus drain API — after which every group's
    * totals are final.
    */
  def settle(maxMs: Long = 3000): Unit = {
    var prev = events.get
    var waited = 0L
    while (waited < maxMs) {
      Thread.sleep(100); waited += 100
      val cur = events.get
      if (cur == prev) return
      prev = cur
    }
  }
}
