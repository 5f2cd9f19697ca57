package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.StateDir

/** The shared state-dir publish protocol alone: every on-disk state a
  * crash can leave is built directly (a dir holding one `data` file whose
  * content names the version), then [[StateDir.recover]] must repair it. */
class StateDirSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def fresh(): String =
    Files.createTempDirectory("graft_statedir").toString + "/state"
  private def put(dir: String, version: String, marker: Option[String] = None): Unit = {
    Files.createDirectories(Paths.get(dir))
    Files.write(Paths.get(dir, "data"), version.getBytes(UTF_8))
    marker.foreach(m => Files.write(Paths.get(dir, "_applied"), m.getBytes(UTF_8)))
  }
  private def exists(dir: String): Boolean = Files.exists(Paths.get(dir))
  private def version(dir: String): String =
    new String(Files.readAllBytes(Paths.get(dir, "data")), UTF_8)
  private def recover(dir: String, requireMarker: Boolean): StateDir =
    StateDir.recovered(spark, dir, "StateDirSpec", requireMarker)
  /** Only the live dir is left, holding `v` and no other version nested
    * inside it (a rename onto an existing dir moves the source INTO it). */
  private def liveOnly(dir: String, v: String): Unit = {
    assert(exists(dir) && version(dir) == v)
    assert(!exists(dir + "_next") && !exists(dir + "_old"))
    val ls = Files.list(Paths.get(dir))
    try assert(ls.noneMatch(Files.isDirectory(_))) finally ls.close()
  }

  test("clean dirs: nothing and a lone live dir are left as they are") {
    val none = fresh()
    val st = recover(none, requireMarker = true)
    assert(!exists(none) && !exists(none + "_next") && !exists(none + "_old"))
    assert(st.marker.isEmpty && st.appliedBatch == -1L)
    val live = fresh()
    put(live, "v1", Some("4"))
    assert(recover(live, requireMarker = true).appliedBatch == 4L)
    liveOnly(live, "v1")
  }

  test("a complete _next with no live dir is published") {
    for (requireMarker <- Seq(false, true)) {
      val dir = fresh()
      put(dir + "_next", "v2", Some("2"))
      put(dir + "_old", "v1", Some("1")) // crash after the move-aside
      assert(recover(dir, requireMarker).appliedBatch == 2L)
      liveOnly(dir, "v2")
    }
  }

  test("a stale _next beside a live dir is dropped") {
    val dir = fresh()
    put(dir, "v1", Some("1"))
    put(dir + "_next", "v2", Some("2"))
    assert(recover(dir, requireMarker = true).appliedBatch == 1L)
    liveOnly(dir, "v1")
  }

  test("a _next without its marker and no live dir is discarded under requireMarker") {
    val dir = fresh()
    put(dir + "_next", "torn")
    recover(dir, requireMarker = true)
    assert(!exists(dir) && !exists(dir + "_next"))
    // without requireMarker the same dir is a complete unmarked state
    put(dir + "_next", "v1")
    recover(dir, requireMarker = false)
    liveOnly(dir, "v1")
  }

  test("a lone _old is restored; _old debris beside a live dir is deleted") {
    val lone = fresh()
    put(lone + "_old", "v1", Some("1"))
    assert(recover(lone, requireMarker = true).appliedBatch == 1L)
    liveOnly(lone, "v1")
    val debris = fresh()
    put(debris, "v2", Some("2"))
    put(debris + "_old", "v1", Some("1"))
    recover(debris, requireMarker = true)
    liveOnly(debris, "v2")
  }

  test("publish swaps _next in; one- and two-field markers round-trip byte for byte") {
    val dir = fresh()
    val st = recover(dir, requireMarker = true)
    put(st.next, "v1")
    st.publish(5L)
    liveOnly(dir, "v1")
    assert(new String(Files.readAllBytes(Paths.get(dir, "_applied")), UTF_8) == "5")
    assert(st.marker.contains(Seq(5L)) && st.appliedBatch == 5L)
    put(st.next, "v2")
    st.publish(7L, 42L)
    liveOnly(dir, "v2")
    assert(new String(Files.readAllBytes(Paths.get(dir, "_applied")), UTF_8) == "7 42")
    assert(st.marker.contains(Seq(7L, 42L)) && st.appliedBatch == 7L)
    // no marker given: the swap alone (upsert, compaction)
    put(st.next, "v3")
    st.publish()
    liveOnly(dir, "v3")
    assert(st.marker.isEmpty)
  }
}
