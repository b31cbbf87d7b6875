package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sources.Gvt

/** Commit-time CHECK constraints: a violating append fails IN the
  * write pass and leaves NO commit (any readable version is clean),
  * ADD CONSTRAINT validates existing data, the WAP gate blocks a
  * branch publish whose rows violate a check the parent added AFTER
  * the fork, and the audit-then-publish recovery path lands clean.
  */
class GvtConstraintSpec extends GraftSuite {
  import spark.implicits._

  private def slab(from: Long, until: Long): DataFrame =
    (from until until).map(k => (k, k * 10)).toDF("k", "v")

  test("a violating append fails in-write and commits NOTHING") {
    val dir = Files.createTempDirectory("gvt-ck-").toString + "/t"
    Gvt.append(spark, dir, slab(1, 100), Seq("k"))
    Gvt.addCheck(spark, dir, "k_positive", "k > 0")
    val head = Gvt.latestVersion(dir)
    val e = intercept[Exception] {
      Gvt.append(spark, dir, slab(-5, 5), Seq("k")) // -5..-1 violate
    }
    assert(e.getMessage.contains("k_positive") ||
      Option(e.getCause).exists(_.getMessage.contains("k_positive")),
      s"wrong failure: ${e.getMessage}")
    assert(Gvt.latestVersion(dir) == head, "a violating append COMMITTED")
    assert(Gvt.read(spark, dir).filter(col("k") <= 0).count() == 0)
    // NULL semantics: CHECK passes on NULL (SQL standard)...
    Gvt.append(spark, dir,
      Seq((null.asInstanceOf[java.lang.Long], 1L)).toDF("k", "v"), Seq("v"))
    // ...NOT NULL is the explicit opt-out — but first clean the nulls
    // or the declaration itself must refuse
    intercept[IllegalArgumentException] {
      Gvt.addNotNull(spark, dir, "k")
    }
  }

  test("ADD CONSTRAINT validates existing rows first") {
    val dir = Files.createTempDirectory("gvt-ck-").toString + "/t"
    Gvt.append(spark, dir, slab(0, 10), Seq("k")) // k=0 violates below
    val e = intercept[IllegalArgumentException] {
      Gvt.addCheck(spark, dir, "k_positive", "k > 0")
    }
    assert(e.getMessage.contains("existing rows"))
    // merge enforces on its source rows too
    Gvt.addCheck(spark, dir, "v_small", "v < 1000000")
    intercept[Exception] {
      Gvt.merge(spark, dir, Seq((3L, 2000000L)).toDF("k", "v"), "k", Seq("k"))
    }
    assert(Gvt.read(spark, dir).filter(col("v") >= 1000000L).count() == 0)
  }

  test("WAP gate: a check added AFTER the fork blocks the publish; audit unblocks") {
    val dir = Files.createTempDirectory("gvt-ck-").toString + "/t"
    Gvt.append(spark, dir, slab(1, 100), Seq("k"))
    val b = Gvt.createBranch(dir, "drop")
    // branch stages rows that are legal under the checks it inherited
    // (none) but illegal under the parent's LATER policy
    Gvt.append(spark, b, slab(-10, 0), Seq("k"))
    Gvt.addCheck(spark, dir, "k_positive", "k > 0") // parent, post-fork
    val e = intercept[IllegalStateException] {
      Gvt.publishBranch(spark, dir, "drop")
    }
    assert(e.getMessage.contains("BLOCKED") &&
      e.getMessage.contains("k_positive"))
    assert(Gvt.read(spark, dir).filter(col("k") <= 0).count() == 0,
      "parent acquired bad rows through a blocked publish")
    // the audit: delete the violating rows ON THE BRANCH, republish
    Gvt.delete(spark, b, col("k") <= 0, Seq("k"))
    Gvt.publishBranch(spark, dir, "drop")
    Gvt.dropBranch(dir, "drop")
    assert(Gvt.read(spark, dir).count() == 99,
      "audited publish lost or duplicated rows")
    // dropCheck re-opens the gate
    Gvt.dropCheck(spark, dir, "k_positive")
    Gvt.append(spark, dir, slab(-1, 0), Seq("k"))
    assert(Gvt.read(spark, dir).count() == 100)
  }

  test("checks survive the checkpoint cadence AND vacuum (r11 review finding)") {
    val dir = Files.createTempDirectory("gvt-ck-").toString + "/t"
    Gvt.append(spark, dir, slab(1, 50), Seq("k"))
    Gvt.addCheck(spark, dir, "k_positive", "k > 0")
    // cross the checkpoint cadence: the ckpt at v10+ must CARRY the
    // checks-only state (pre-fix it serialized schema = null and the
    // constraint silently vanished from resolution)
    (0 until 12).foreach(i =>
      Gvt.append(spark, dir, slab(100 + i * 10, 110 + i * 10), Seq("k")))
    val e = intercept[Exception] { Gvt.append(spark, dir, slab(-1, 0), Seq("k")) }
    assert(e.getMessage.contains("k_positive") ||
      Option(e.getCause).exists(_.getMessage.contains("k_positive")),
      s"check lost after checkpoint: ${e.getMessage}")
    // vacuum deletes the addCheck commit doc itself; the floor ckpt
    // must still serve the constraint
    Gvt.vacuum(dir, Gvt.latestVersion(dir), graceMs = 0L)
    val e2 = intercept[Exception] { Gvt.append(spark, dir, slab(-1, 0), Seq("k")) }
    assert(e2.getMessage.contains("k_positive") ||
      Option(e2.getCause).exists(_.getMessage.contains("k_positive")),
      s"check lost after vacuum: ${e2.getMessage}")
  }

  test("WAP gate aliases physical files to logical names on a mapped table") {
    val dir = Files.createTempDirectory("gvt-ck-").toString + "/t"
    Gvt.append(spark, dir, slab(1, 50), Seq("k"))
    Gvt.renameColumn(spark, dir, "v", "value")
    Gvt.addCheck(spark, dir, "value_nonneg", "value >= 0")
    val b = Gvt.createBranch(dir, "drop")
    // post-rename appends speak the LOGICAL name
    Gvt.append(spark, b,
      slab(50, 60).withColumnRenamed("v", "value"), Seq("k")) // all valid
    // pre-fix: the gate read PHYSICAL columns and expr("value >= 0")
    // failed to resolve, aborting a publish that must succeed
    Gvt.publishBranch(spark, dir, "drop")
    Gvt.dropBranch(dir, "drop")
    assert(Gvt.read(spark, dir).count() == 59)
  }

  test("a check pins its columns: rename/drop of a referenced column refuses") {
    val dir = Files.createTempDirectory("gvt-ck-").toString + "/t"
    Gvt.append(spark, dir, slab(1, 10), Seq("k"))
    Gvt.addCheck(spark, dir, "k_positive", "k > 0")
    val e = intercept[IllegalArgumentException] {
      Gvt.renameColumn(spark, dir, "k", "id")
    }
    assert(e.getMessage.contains("k_positive"))
    intercept[IllegalArgumentException] { Gvt.dropColumn(spark, dir, "k") }
    // unreferenced columns stay renameable; checks survive the rename
    Gvt.renameColumn(spark, dir, "v", "value")
    intercept[Exception] { Gvt.append(spark, dir,
      Seq((-1L, 0L)).toDF("k", "value"), Seq("k")) }
  }
}
