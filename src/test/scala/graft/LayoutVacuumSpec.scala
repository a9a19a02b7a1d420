package graft

import org.scalatest.funsuite.AnyFunSuite

/** LayoutStore.vacuum — the storage-GC for write-once layouts
  * (VERDICT r7 #6: every source refresh strands a full index copy
  * under tmpdir; at 100 TB that is an index-sized leak per ingest).
  * Pure filesystem logic, no Spark session needed. */
class LayoutVacuumSpec extends AnyFunSuite with TempDirs {

  private val Hex = "0123456789abcdef0123456789abcdef" // a 32-hex dir digest

  private def mkLayout(root: String, name: String): java.io.File = {
    val d = new java.io.File(root, name)
    assert(d.mkdirs())
    val f = new java.io.File(d, "part-00000.parquet")
    assert(f.createNewFile())
    d
  }

  /** Age a dir past the 1 h reader-safety grace (round 15 — VERDICT
    * r14 #4: superseded generations are reclaimed only once idle). */
  private def age(d: java.io.File): java.io.File = {
    assert(d.setLastModified(System.currentTimeMillis - 2 * 3600L * 1000))
    d
  }

  test("vacuum keeps only the newest generation per (family, dir, params) group") {
    val root = tempDir("graft-vacuum")
    // two generations of the same layout: mtime 1000 → 2000
    val oldGen = age(mkLayout(root, s"graft_shidx_sf0.01_${Hex}_100_1000_n1v2"))
    val newGen = mkLayout(root, s"graft_shidx_sf0.01_${Hex}_120_2000_n1v2")
    // same source, DIFFERENT params — its own group, must coexist
    val otherParams = mkLayout(root, s"graft_shidx_sf0.01_${Hex}_120_2000_n2v2")
    // a no-params layout family, also two generations
    val oldNoP = age(mkLayout(root, s"graft_zorder_sf0.01_${Hex}_100_1000"))
    val newNoP = mkLayout(root, s"graft_zorder_sf0.01_${Hex}_120_2000")
    // unrelated dir — must never be touched
    val bystander = mkLayout(root, "not_a_graft_layout")

    val deleted = LayoutStore.vacuum(root).toSet
    assert(deleted === Set(oldGen.getPath, oldNoP.getPath))
    assert(!oldGen.exists() && !oldNoP.exists())
    assert(newGen.exists() && otherParams.exists() && newNoP.exists() && bystander.exists())
  }

  test("superseded-but-recently-touched generations survive a sweep and are " +
      "reclaimed once idle (round 15 — reader-safety grace)") {
    val root = tempDir("graft-vacuum-g")
    // a refresh JUST published gen 2000; gen 1000's files were written
    // minutes ago and a concurrent session may still be scanning them —
    // zero-grace deletion is the mid-scan reader fault VERDICT r14
    // names (the snapshot-retention problem table formats solve)
    val oldGen = mkLayout(root, s"graft_shidx_sf0.01_${Hex}_100_1000_n1v2")
    val newGen = mkLayout(root, s"graft_shidx_sf0.01_${Hex}_120_2000_n1v2")
    assert(LayoutStore.vacuum(root).isEmpty, "young superseded gen must survive")
    assert(oldGen.exists() && newGen.exists())
    // one hour later (simulated), the same sweep reclaims it
    age(oldGen)
    assert(LayoutStore.vacuum(root) === Seq(oldGen.getPath))
    assert(!oldGen.exists() && newGen.exists())
  }

  test("vacuum covers the bucketed-table family: graft_bk_* generations collapse to the newest") {
    // the sanitized bucketed-layout name (BucketedTables.bucketedTable:
    // layoutKey + [^A-Za-z0-9_]→_, params token _bk8) is the one
    // family whose shape the Keyed regex was never tested against —
    // and a stranded bucket copy is FACT-TABLE-sized, the costliest
    // possible leak (VERDICT r8 #6)
    val root = tempDir("graft-vacuum-bk")
    val oldGen = age(mkLayout(root, s"graft_bk_orders__root_testdata_sf0_01_${Hex}_3000_1000_bk8"))
    val newGen = mkLayout(root, s"graft_bk_orders__root_testdata_sf0_01_${Hex}_3100_2000_bk8")
    // same table+source at a DIFFERENT bucket count — its own layout
    // commitment, must coexist
    val otherBk = mkLayout(root, s"graft_bk_orders__root_testdata_sf0_01_${Hex}_3100_2000_bk16")
    // a different table over the same source dir — separate group
    val otherTable = mkLayout(root, s"graft_bk_lineitem__root_testdata_sf0_01_${Hex}_900_500_bk8")
    val deleted = LayoutStore.vacuum(root).toSet
    assert(deleted === Set(oldGen.getPath))
    assert(!oldGen.exists())
    assert(newGen.exists() && otherBk.exists() && otherTable.exists())
  }

  test("vacuum sweeps stale .build-* orphans but spares young (possibly in-flight) ones") {
    val root = tempDir("graft-vacuum-b")
    val stale = mkLayout(root, s"graft_annidx_sf0.01_${Hex}_100_1000.build-deadbeef")
    assert(stale.setLastModified(System.currentTimeMillis - 2 * 3600L * 1000))
    val young = mkLayout(root, s"graft_annidx_sf0.01_${Hex}_100_1000.build-cafebabe")
    val deleted = LayoutStore.vacuum(root)
    assert(deleted === Seq(stale.getPath))
    assert(!stale.exists() && young.exists())
  }

  test("vacuum reclaims idle scratch dirs named by code older than scratchDir, spares young ones") {
    val root = tempDir("graft-vacuum-s")
    val prefixes = Seq("graft_stream_sink", "graft_st13", "graft_st18")
    val old = prefixes.map(p => age(mkLayout(root, s"${p}1234567890123456789")))
    val young = prefixes.map(p => mkLayout(root, s"${p}9876543210987654321"))
    // a current-style scratch dir (prefix-<uuid>) is not this rule's
    val current = age(mkLayout(root, "graft_st13-0f8fad5b-d9cb-469f-a165-70867728950e"))
    assert(LayoutStore.vacuum(root).toSet === old.map(_.getPath).toSet)
    assert(old.forall(!_.exists()))
    assert(young.forall(_.exists()) && current.exists())
  }

  test("vacuum is idempotent and safe on an empty / absent directory") {
    val root = tempDir("graft-vacuum-e")
    assert(LayoutStore.vacuum(root).isEmpty)
    assert(LayoutStore.vacuum(root + "/does-not-exist").isEmpty)
  }
}
