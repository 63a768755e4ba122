package graft.operators

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

/** The pane operators' alignment check: `size` must be a whole number of
  * slides in any interval grammar Spark's `window()` accepts. Their results
  * are pinned by SlidingHotKeysStreamSpec, StreamingSpec and the q155/q158
  * oracles; the batch sliding aggregate is native `window()`
  * (FrameFirstWindowsSpec).
  */
class SlidingPanesSpec extends SparkSpec {

  import SlidingPanes.PaneAgg

  test("alignment check accepts every interval grammar Spark's window() does") {
    val events = Tables(spark, sf, "events")
    def panes(size: String, slide: String) = SlidingPanes.slidingAggStream(
      events, "ts", size, slide, keys = Seq.empty, aggs = Seq(PaneAgg(count(lit(1)), sum(_), "n")))
    // multi-unit, sub-second, and week units must parse (r8 regression:
    // the single-unit regex rejected these even when correctly aligned)
    panes("1 hour 30 minutes", "30 minutes").count()
    panes("1 second", "500 milliseconds").count()
    panes("2 weeks", "1 week").count()
    // misalignment still rejected, including across mixed units
    intercept[IllegalArgumentException](panes("1 hour 30 minutes", "20 minutes"))
    // month/year units have no fixed length → frames cannot align
    intercept[IllegalArgumentException](panes("1 month", "1 week"))
  }
}
