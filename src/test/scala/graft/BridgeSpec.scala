package graft

import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graftbridge.Bridge

/** `Bridge.unpersistLocalCheckpoint` frees exactly the pin it is
  * handed: a frame derived from a pin is rejected and the pin's
  * blocks stay readable. */
class BridgeSpec extends SparkSpec {

  test("unpersistLocalCheckpoint rejects a derived frame and frees a direct pin") {
    def persisted = spark.sparkContext.getPersistentRDDs.keySet
    val before = persisted
    val pinned = spark.range(0, 100, 1, 4).toDF("id").localCheckpoint(true)
    val pins = persisted -- before
    assert(pins.nonEmpty)
    val derived = pinned.filter(col("id") % 2 === 0)
    intercept[IllegalArgumentException](Bridge.unpersistLocalCheckpoint(derived))
    assert(pins.subsetOf(persisted), "a rejected call must not free the pin")
    assert(derived.count() == 50 && pinned.count() == 100)
    Bridge.unpersistLocalCheckpoint(pinned)
    assert((pins & persisted).isEmpty)
  }
}
