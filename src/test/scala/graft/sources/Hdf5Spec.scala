package graft.sources

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.pipeline.TreeTable
import graft.pipeline.TreeTable.MappingRule

/** The HDF5 byte-parse boundary (S3–S6): real `.h5` fixture bytes — written
  * from the public file-format spec by `scripts/make_h5_fixtures.py` — read
  * end to end into the tree table and through the typed read helpers. */
class Hdf5Spec extends SparkSpec {

  private def fixture(name: String): Array[Byte] = {
    val url = getClass.getResource(s"/h5/$name")
    assert(url != null, s"missing fixture $name — run scripts/make_h5_fixtures.py")
    Files.readAllBytes(Paths.get(url.toURI))
  }

  private lazy val v0 = Hdf5.read(fixture("mouse_v0.h5"))
  private lazy val byPath = v0.map(n => n.path -> n).toMap

  test("superblock v0: walks symbol-table groups to all datasets") {
    assert(v0.size == 11, v0.map(_.path).sorted.mkString("\n"))
    assert(byPath.contains("/entry1/instrument/configuration"))
    assert(byPath.contains("/entry1/detector/compressed"))
  }

  test("hard-link aliases emit a node per path; v0 symlinks resolve") {
    // alias_data is the SAME object header as data — both paths get nodes
    assert(byPath("/entry1/detector/alias_data").f32Data.map(_.toSeq) ==
      byPath("/entry1/detector/data").f32Data.map(_.toSeq))
    // old-style symbolic entry targeting an absolute path
    assert(byPath("/entry1/detector/soft_cfg").scalarF64.contains(3.0))
  }

  test("scalar f64 / i64 and units attributes (S3/S5)") {
    val cfg = byPath("/entry1/instrument/configuration")
    assert(cfg.scalarF64.contains(3.0))
    assert(cfg.attrs("units") == "dimensionless") // fixed-length string attr
    // numeric ARRAY attr (v1 message): NeXus vector shape, comma-joined
    assert(cfg.attrs("vector") == "0.0,0.0,1.0")
    // string ARRAY attrs (the NeXus axes name list): fixed-width
    // elements at the type's stride, and vlen via the global heap
    assert(cfg.attrs("axes") == "time,q")
    assert(cfg.attrs("axes_v") == "time,q")
    val th = byPath("/entry1/sample/thickness")
    assert(th.scalarF64.contains(0.00123))
    assert(th.attrs("units") == "m") // vlen string attr via global heap
    assert(byPath("/entry1/instrument/n_frames").scalarF64.contains(42.0))
  }

  test("fixed and vlen string datasets (S4)") {
    assert(byPath("/entry1/sample/position").scalarStr.contains("top_left"))
    assert(byPath("/entry1/sample/name").scalarStr.contains("caffeine powder"))
  }

  test("f64 1-D array keeps double precision") {
    val a = byPath("/entry1/sample/angles")
    assert(a.f64Data.map(_.toSeq).contains(Seq(0.0, 0.5, 1.0, 1.5)))
    assert(a.attrs("units") == "degrees")
  }

  test("contiguous, chunked, and deflate-chunked images decode identically (S6)") {
    val expected = (0 until 30).map(_.toFloat)
    for (name <- Seq("data", "chunked", "compressed")) {
      val n = byPath(s"/entry1/detector/$name")
      assert(n.dims == Seq(6L, 5L), s"$name dims")
      assert(n.f32Data.map(_.toSeq).contains(expected), s"$name payload")
    }
  }

  test("layout v4: single-chunk / implicit / fixed-array indexes (± deflate)") {
    val v4 = Hdf5.read(fixture("mouse_v4.h5"))
    val m = v4.map(n => n.path -> n).toMap
    val expected = (0 until 30).map(_.toFloat)
    // single_skip: deflate declared but the chunk's filter-mask bit set —
    // stored raw, must decode via the mask, not through the filter
    for (name <- Seq("single", "single_z", "single_skip",
      "implicit", "fixedarr", "fixedarr_z")) {
      val n = m(s"/entry1/detector/$name")
      assert(n.dims == Seq(6L, 5L), s"$name dims")
      assert(n.f32Data.map(_.toSeq).contains(expected), s"$name payload")
    }
  }

  private lazy val unlim = Hdf5.read(fixture("mouse_unlim.h5"))
  private lazy val unlimByPath = unlim.map(n => n.path -> n).toMap

  test("layout v4: extensible-array index — inline, data-block, super-block tiers") {
    // 10 chunks: 2 inline elements + index-block data blocks
    assert(unlimByPath("/detector/ea").f32Data.map(_.toSeq)
      .contains((0 until 20).map(_.toFloat)))
    // 40 chunks: reaches the EASB super-block tier
    assert(unlimByPath("/detector/ea_sb").f32Data.map(_.toSeq)
      .contains((0 until 80).map(_ * 0.5f)))
    // deflate -> client-1 elements (addr + stored size + mask), 2-D
    val z = unlimByPath("/detector/ea_z")
    assert(z.dims == Seq(8L, 3L))
    assert(z.f32Data.map(_.toSeq).contains((0 until 24).map(_.toFloat)))
    // paged data blocks: page-wise element reads gated by the super
    // block's page-init bitmask (MSB-first, per libhdf5 H5VM_bit_get).
    // Page 1 of the 16-element block (chunks 72-79 = elements 144-159)
    // is marked uninitialized and poisoned on disk: a reader with the
    // wrong bit order dereferences poison instead of returning fill.
    assert(unlimByPath("/detector/ea_paged").f32Data.map(_.toSeq)
      .contains((0 until 144).map(_ * 0.125f) ++ Seq.fill(16)(0.0f)))
  }

  test("layout v4: v2 b-tree index decodes chunk records (± deflate)") {
    for (name <- Seq("bt2", "bt2_z")) {
      val n = unlimByPath(s"/detector/$name")
      assert(n.dims == Seq(4L, 6L), s"$name dims")
      assert(n.f32Data.map(_.toSeq).contains((0 until 24).map(_.toFloat)),
        s"$name payload")
    }
    // depth-1 tree: BTIN root -> 3 leaves, child-pointer widths from the
    // leaf-capacity ladder
    assert(unlimByPath("/detector/bt2_deep").f32Data.map(_.toSeq)
      .contains((0 until 22).map(_ * 0.25f)))
    // depth-2 tree: pointers to internal children carry total counts
    assert(unlimByPath("/detector/bt2_deep2").f32Data.map(_.toSeq)
      .contains((0 until 22).map(_ * 0.75f)))
  }

  test("LZ4 (32004) and bitshuffle (32008 ± internal lz4) filters decode") {
    val v4 = Hdf5.read(fixture("mouse_v4.h5"))
    val m = v4.map(n => n.path -> n).toMap
    val expected = (0 until 30).map(_.toFloat)
    for (name <- Seq("lz4", "bitshuf_z", "bitshuf_raw")) {
      val n = m(s"/entry1/detector/$name")
      assert(n.f32Data.map(_.toSeq).contains(expected), s"$name payload")
    }
  }

  test("shuffle (2) and fletcher32 (3) filters decode, alone and in the " +
      "classic shuffle+deflate+fletcher pipeline") {
    val v4 = Hdf5.read(fixture("mouse_v4.h5"))
    val m = v4.map(n => n.path -> n).toMap
    val expected = (0 until 30).map(_.toFloat)
    // shufzf = h5py order (checksum last, covers the compressed stream);
    // fzd = netCDF-C order (checksum INSIDE the compressed stream — the
    // read side must inflate to chunk+4 bytes before stripping)
    for (name <- Seq("shufz", "fletch", "shufzf", "fzd")) {
      val n = m(s"/entry1/detector/$name")
      assert(n.f32Data.map(_.toSeq).contains(expected), s"$name payload")
    }
    // HDF5Plugin Zstandard (32015): one raw frame, zstd-jni decode
    assert(m("/entry1/detector/zstd").f32Data.map(_.toSeq).contains(expected))
  }

  test("a corrupted fletcher32 checksum fails loudly, never returns data") {
    val e = intercept[IllegalArgumentException] {
      Hdf5.read(fixture("bad_fletcher.h5"))
    }
    assert(e.getMessage.contains("fletcher32 mismatch"), e.getMessage)
  }

  private lazy val v2 = Hdf5.read(fixture("mouse_v2.h5"))
  private lazy val v2ByPath = v2.map(n => n.path -> n).toMap

  test("superblock v2 / OHDR v2 / link messages / v3 attributes") {
    assert(v2ByPath("/entry1/detector/distance").scalarF64.contains(2507.5))
    assert(v2ByPath("/entry1/detector/distance").attrs("units") == "mm")
    assert(v2ByPath("/entry1/detector/frame").f32Data.map(_.toSeq)
      .contains((0 until 12).map(_ * 0.5f).toSeq))
  }

  test("v2 soft links alias their target; external links become markers") {
    assert(v2ByPath("/entry1/soft_dist").scalarF64.contains(2507.5))
    val ext = v2ByPath("/entry1/data_000001")
    assert(ext.attrs("external_link_file") == "mouse_v2_data_000001.h5")
    assert(ext.attrs("external_link_path") == "/entry/data/data")
    assert(ext.scalarF64.isEmpty && ext.f32Data.isEmpty)
  }

  // ---- external-link resolution (Hdf5.readGuarded graft; S6) -------------

  private def extResolver: String => Option[Array[Byte]] = {
    case n @ ("data_000001.h5" | "cycle_a.h5" | "cycle_b.h5" |
              "vds_data_000001.h5" | "vds_data_000002.h5" |
              "vds_blk_000000.h5" | "vds_blk_000001.h5" |
              "vds%lit.h5" | "scan%d_a.h5" |
              "vds_det_0.h5" | "vds_det_1.h5") =>
      Some(fixture(s"extlink/$n"))
    case _ => None
  }

  private lazy val master =
    Hdf5.read(fixture("extlink/master.h5"), extResolver)
  private lazy val masterByPath = master.map(n => n.path -> n).toMap

  test("external link to a dataset grafts it at the link path") {
    val d = masterByPath("/entry/data/data")
    assert(d.dims == Seq(2L, 3L))
    assert(d.f32Data.map(_.toSeq).contains((0 until 6).map(_ * 2.0f)))
    assert(!d.attrs.contains("external_link_file")) // resolved, not a marker
  }

  test("external link to a group grafts its whole subtree") {
    assert(masterByPath("/entry/data/grp/x").scalarF64.contains(1.5))
    assert(masterByPath("/entry/data/grp/y").scalarF64.contains(7.0))
    // nothing from the target file leaks in under its ORIGINAL paths
    assert(!master.exists(_.path.startsWith("/entry/sub")))
  }

  test("dangling external links degrade to marker nodes, never errors") {
    val mf = masterByPath("/entry/data/missing_file")
    assert(mf.attrs("external_link_file") == "nope.h5")
    val mo = masterByPath("/entry/data/missing_obj")
    assert(mo.attrs("external_link_file") == "data_000001.h5")
    assert(mo.attrs("external_link_path") == "/no/such")
    assert(master.size == 5, master.map(_.path).sorted.mkString("\n"))
  }

  // ---- virtual dataset (VDS) layout --------------------------------------

  private lazy val vds =
    Hdf5.read(fixture("extlink/vds_master.h5"), extResolver)
  private lazy val vdsByPath = vds.map(n => n.path -> n).toMap

  test("VDS: virtual dataset assembles from two source files' slabs") {
    // rows 0-1 via a v2 regular hyperslab, rows 2-3 via a v1 block list,
    // both source selections ALL — the Eiger master stacking shape
    val d = vdsByPath("/entry/vframes")
    assert(d.dims == Seq(4L, 3L))
    assert(d.f32Data.map(_.toSeq).contains(
      (0 until 6).map(_.toFloat) ++ (0 until 6).map(100.0f + _)))
    assert(!d.attrs.contains("virtual_missing_sources"))
  }

  test("VDS: a missing source fills its region and is surfaced in attrs") {
    // the resolvable mapping's virtual selection is v3-encoded (2-byte
    // coords, HDF5 1.12+ form) — identical values prove the v3 decode
    val p = vdsByPath("/entry/vpartial")
    assert(p.f32Data.map(_.toSeq).contains(
      (0 until 6).map(_.toFloat) ++ Seq.fill(6)(0.0f)))
    assert(p.attrs("virtual_missing_sources") == "vds_missing.h5")
  }

  test("VDS: printf-style unlimited mapping resolves blocks until the " +
      "first missing file and surfaces the short stack") {
    // vds_blk_%06b.h5 with a 2-row count-unlimited block: blocks 0 and 1
    // exist, block 2 does not — rows 0-3 carry data, rows 4-5 read fill,
    // and the first missing substituted name is surfaced
    val d = vdsByPath("/entry/vprintf")
    assert(d.dims == Seq(6L, 3L))
    assert(d.f32Data.map(_.toSeq).contains(
      (0 until 6).map(_.toFloat) ++ (0 until 6).map(100.0f + _) ++
        Seq.fill(6)(0.0f)))
    assert(d.attrs("virtual_missing_sources") == "vds_blk_000002.h5")
  }

  test("VDS: printf-style mapping fully satisfied leaves no missing marker") {
    // same %b mapping over a [4,3] extent: capacity is exactly the two
    // existing blocks, so iteration stops at the extent, not at a gap
    val d = vdsByPath("/entry/vprintf_full")
    assert(d.f32Data.map(_.toSeq).contains(
      (0 until 6).map(_.toFloat) ++ (0 until 6).map(100.0f + _)))
    assert(!d.attrs.contains("virtual_missing_sources"))
  }

  test("VDS: non-printf unlimited mapping clamps to the resolved source " +
      "extent") {
    // one concrete 2x3 source into an open-ended [4,3] extent: the source
    // decides the block count (h5py clamp), remaining rows read fill, and
    // nothing is 'missing' — the stack is simply short of capacity
    val d = vdsByPath("/entry/vgrow")
    assert(d.f32Data.map(_.toSeq).contains(
      (0 until 6).map(_.toFloat) ++ Seq.fill(6)(0.0f)))
    assert(!d.attrs.contains("virtual_missing_sources"))
  }

  test("VDS: strided virtual selections interleave two module sources") {
    // the multi-module detector shape: source 1 -> rows 0,2 and source 2
    // -> rows 1,3 via stride-2 regular hyperslabs (stride > block)
    val d = vdsByPath("/entry/vinterleave")
    assert(d.f32Data.map(_.toSeq).contains(Seq(
      0f, 1f, 2f, 100f, 101f, 102f, 3f, 4f, 5f, 103f, 104f, 105f)))
    assert(!d.attrs.contains("virtual_missing_sources"))
  }

  test("VDS: a dim-0-stacked multi-block list maps one source into " +
      "disjoint row blocks") {
    // one v1 selection, two blocks (rows 0 and 2): source elements 0-2
    // land in row 0, 3-5 in row 2, rows 1/3 read fill
    val d = vdsByPath("/entry/vmulti")
    assert(d.f32Data.map(_.toSeq).contains(Seq(
      0f, 1f, 2f, 0f, 0f, 0f, 3f, 4f, 5f, 0f, 0f, 0f)))
  }

  test("VDS: a point selection scatters source elements in stored order") {
    val d = vdsByPath("/entry/vpoints")
    // points (0,0),(0,1),(1,2),(2,0),(3,1),(3,2) receive elements 0..5
    assert(d.f32Data.map(_.toSeq).contains(Seq(
      0f, 1f, 0f, 0f, 0f, 2f, 3f, 0f, 0f, 0f, 4f, 5f)))
  }

  test("VDS: a VERSION-2 point selection (HDF5 1.12+ 2-byte coords) " +
      "decodes identically to v1") {
    val d = vdsByPath("/entry/vpoints2")
    assert(d.f32Data.map(_.toSeq).contains(Seq(
      0f, 1f, 0f, 0f, 0f, 2f, 3f, 0f, 0f, 0f, 4f, 5f)))
  }

  test("VDS: an OVERLAPPING multi-block union is rejected loudly during " +
      "validation, never a wrong element order") {
    // blocks (0,0)-(1,1) and (1,1)-(2,2) share cell (1,1) — libhdf5
    // normalizes unions to disjoint blocks, so an overlap is malformed
    val e = intercept[IllegalArgumentException] {
      Hdf5.read(fixture("extlink/vds_overlap_master.h5"), extResolver)
    }
    assert(e.getMessage.contains("overlapping"), e.getMessage)
  }

  test("VDS: literal-% names with fixed selections resolve via the %% " +
      "escape and degrade, never abort") {
    val d = vdsByPath("/entry/vescape")
    // 'vds%%lit.h5' -> literal 'vds%lit.h5', resolved into rows 0-1;
    // 'scan%day.h5' (a %d-looking substring, NOT a printf mapping) is
    // tried literally, misses, and becomes a marker for rows 2-3
    assert(d.f32Data.map(_.toSeq).contains(
      (0 until 6).map(200.0f + _) ++ Seq.fill(6)(0.0f)))
    assert(d.attrs("virtual_missing_sources") == "scan%day.h5")
  }

  test("VDS: an irregular multi-block union maps in global row-major " +
      "order, not block-by-block") {
    // blocks (rows 0-1, cols 0-1) and (rows 0-1, col 2) stored in that
    // order: offsets merge to plain row-major, so source 0..5 fills rows
    // 0-1 contiguously; block-by-block order would scatter 0,1,4/2,3,5
    val d = vdsByPath("/entry/virregular")
    assert(d.f32Data.map(_.toSeq).contains(
      (0 until 6).map(_.toFloat) ++ Seq.fill(6)(0.0f)))
  }

  test("VDS: a block-unlimited selection (count 1) clamps to the " +
      "resolved source extent") {
    val d = vdsByPath("/entry/vblockunlim")
    assert(d.f32Data.map(_.toSeq).contains(
      (0 until 6).map(_.toFloat) ++ Seq.fill(6)(0.0f)))
    assert(!d.attrs.contains("virtual_missing_sources"))
  }

  test("VDS: a literal %d-only file takes priority over substitution — " +
      "a same-named block-0 decoy never shadows it") {
    // 'scan%d_a.h5' exists LITERALLY and a DECOY 'scan0_a.h5' (999-based
    // values) exists too. libhdf5 only substitutes %b, so the literal
    // file is what it would read: literal resolution runs first and the
    // decoy must not be touched. No fabricated marker may survive.
    val d = vdsByPath("/entry/vdlit")
    assert(d.f32Data.map(_.toSeq).contains(
      (0 until 6).map(300.0f + _) ++ Seq.fill(6)(0.0f)))
    assert(!d.attrs.contains("virtual_missing_sources"))
  }

  test("VDS: a %d printf family that exists still resolves as printf") {
    // vds_det_0/1.h5 exist, vds_det_2.h5 does not: blocks 0-1 carry
    // data, rows 4-5 fill, and the short stack surfaces the SUBSTITUTED
    // name — the literal fallback fires only when even block 0 misses
    val d = vdsByPath("/entry/vdfam")
    assert(d.dims == Seq(6L, 3L))
    assert(d.f32Data.map(_.toSeq).contains(
      (0 until 6).map(_.toFloat) ++ (0 until 6).map(100.0f + _) ++
        Seq.fill(6)(0.0f)))
    assert(d.attrs("virtual_missing_sources") == "vds_det_2.h5")
  }

  test("VDS: vlen-string virtual datasets are rejected loudly — heap " +
      "references are not portable across files") {
    val e = intercept[UnsupportedOperationException] {
      Hdf5.read(fixture("extlink/vds_vlen_master.h5"), extResolver)
    }
    assert(e.getMessage.contains("not portable"))
  }

  test("a filter chain stacking two compressors is rejected by name") {
    val e = intercept[IllegalArgumentException] {
      Hdf5.read(fixture("bad_stack.h5"))
    }
    assert(e.getMessage.contains("deflate then zstd"), e.getMessage)
  }

  test("VDS: an oversized virtual dataset degrades to a marker, not a throw") {
    // 2^40 f32 elements with a RESOLVABLE source — the single-buffer bound
    // must win before any allocation, same policy as oversized extlinks
    val h = vdsByPath("/entry/vhuge")
    assert(h.f32Data.isEmpty && h.scalarF64.isEmpty)
    assert(h.attrs("virtual_oversized").toLong > Int.MaxValue.toLong)
  }

  test("lenient treeTable quarantines a corrupt file as an error row") {
    val dir = Files.createTempDirectory("h5lenient")
    Files.write(dir.resolve("good.h5"), fixture("mouse_v0.h5"))
    Files.write(dir.resolve("bad.h5"), fixture("bad_deflate.h5"))
    // strict (default): the corrupt file fails the scan loudly
    intercept[org.apache.spark.SparkException] {
      Hdf5Source.treeTable(spark, dir.toString).count()
    }
    // lenient: the corrupt file becomes ONE inspectable error row and
    // every other file parses normally
    val rows = Hdf5Source.treeTable(spark, dir.toString, lenient = true).collect()
    val errs = rows.filter(r =>
      r.getAs[Map[String, String]]("attrs").contains("parse_error"))
    assert(errs.length == 1)
    assert(errs.head.getAs[String]("file").endsWith("bad.h5"))
    assert(rows.length == 12) // 11 good nodes + 1 error marker
  }

  test("VDS: all sources missing degrades to a data-less marker node") {
    val n = vdsByPath("/entry/vnone")
    assert(n.f32Data.isEmpty && n.scalarF64.isEmpty)
    assert(n.attrs("virtual_missing_sources") == "vds_missing.h5")
    // without a resolver at all, every VDS degrades the same way, no error
    // (vframes, vpartial, vnone, printf x2, vgrow, vinterleave, vmulti,
    // vpoints, vpoints2, vescape, virregular, vblockunlim, vdlit, vdfam;
    // vhuge is an oversized marker instead)
    val bare = Hdf5.read(fixture("extlink/vds_master.h5"))
    assert(bare.count(_.attrs.contains("virtual_missing_sources")) == 15)
  }

  test("A->B->A external-link cycle terminates at a marker node") {
    val a = Hdf5.read(fixture("extlink/cycle_a.h5"), extResolver)
    assert(a.size == 1)
    assert(a.head.path == "/loop")
    // the innermost re-entry of cycle_b is refused -> marker attrs survive
    assert(a.head.attrs("external_link_file") == "cycle_b.h5")
  }

  test("dense groups: links enumerate via fractal heap + v2 b-tree index") {
    val dense = Hdf5.read(fixture("mouse_dense.h5"))
    val byP = dense.map(n => n.path -> n).toMap
    // depth-2 heap: 110 links spill past the root FHIB's direct rows into
    // a row-3 CHILD indirect block (doubling-table recursion)
    for (i <- 0 until 110)
      assert(byP(f"/entry/data3/g_$i%03d").scalarF64.contains((i % 4) * 2.25),
        s"deep-heap link g_$i%03d")
    // 12 hard links past the compact threshold, all in the fractal heap
    for (i <- 0 until 12)
      assert(byP(f"/entry/data/value_$i%03d").scalarF64.contains(i * 1.5))
    // an external link stored densely rides along (marker: file missing)
    val ext = byP("/entry/data/data_000001")
    assert(ext.attrs("external_link_file") == "nope_data.h5")
    // indirect-rooted heap: links packed across several direct blocks
    // addressed through an FHIB row
    for (i <- 0 until 14)
      assert(byP(f"/entry/data2/frame_$i%03d").scalarF64.contains(i * 0.5))
    // FILTERED single-direct-block heap (compressed link names, the
    // large-NeXus-group shape): the whole block is one deflate stream
    for (i <- 0 until 10)
      assert(byP(f"/entry/data4/zvalue_$i%03d").scalarF64.contains(i * 3.5),
        s"filtered-heap link zvalue_$i%03d")
    // FILTERED indirect-rooted heap: root FHIB entries carry
    // (address, filtered size, filter mask) per direct block
    for (i <- 0 until 14)
      assert(byP(f"/entry/data5/zframe_$i%03d").scalarF64.contains(i * 4.5),
        s"filtered-indirect-heap link zframe_$i%03d")
    // dense ATTRIBUTE storage (0x15): 11 attrs via heap + type-8 index
    val ma = byP("/entry/manyattrs")
    assert(ma.scalarF64.contains(42.0))
    assert(ma.attrs("units") == "mm")
    assert((0 until 9).forall(i => ma.attrs(f"a$i%02d") == f"v$i%02d"))
    // >4 KB attribute -> huge heap ID resolved through the huge b-tree
    assert(ma.attrs("blob") == "x" * 4999)
    // FILTERED dense attributes: compressed attr heap + a huge blob
    // stored as its own deflate stream behind a TYPE-2 huge record
    // (indirectly accessed — 8-byte attr heap IDs can't embed addr+len)
    val ma2 = byP("/entry/manyattrs2")
    assert(ma2.scalarF64.contains(43.0))
    assert((0 until 6).forall(i => ma2.attrs(f"z$i%02d") == f"w$i%02d"))
    assert(ma2.attrs("zblob") == "y" * 5999)
    // full shuffle+deflate+fletcher32 chain on the attribute heap: the
    // managed block AND the type-2 huge stream both decode through the
    // multi-stage per-stage target sizes
    val ma3 = byP("/entry/manyattrs3")
    assert(ma3.scalarF64.contains(44.0))
    assert((0 until 5).forall(i => ma3.attrs(f"k$i%02d") == f"u$i%02d"))
    assert(ma3.attrs("kblob") == "q" * 5499)
    // PARTIALLY-filtered heap: deflate skipped at write (mask bit 1 in
    // the heap header and the type-2 record) — the direct block and the
    // huge stream decode through shuffle+fletcher32 only
    val ma4 = byP("/entry/manyattrs4")
    assert(ma4.scalarF64.contains(45.0))
    assert((0 until 5).forall(i => ma4.attrs(f"p$i%02d") == f"t$i%02d"))
    assert(ma4.attrs("pblob") == "r" * 5199)
    // 28 pre-existing + data3's 110 deep-heap links + data4's 10 filtered
    // + data5's 14 filtered-indirect + manyattrs2 + manyattrs3 +
    // manyattrs4 (the data4/data5 group nodes are not datasets, so only
    // their children count)
    assert(dense.size == 165, dense.map(_.path).sorted.mkString("\n"))
  }

  test("big-endian numerics decode exactly (conversion-tool outputs)") {
    val be = Hdf5.read(fixture("mouse_bigendian.h5"))
    val byP2 = be.map(n => n.path -> n).toMap
    assert(byP2("/be/f32arr").f32Data.map(_.toSeq).contains(
      (0 until 6).map(_ * 1.5f)))
    assert(byP2("/be/f64scalar").scalarF64.contains(6.25))
    assert(byP2("/be/i64scalar").scalarF64.contains(-42.0))
    // BE uint32 sentinel: 2^32-1 must survive exactly (f64 route)
    assert(byP2("/be/u32arr").f64Data.map(_.toSeq).contains(
      Seq(4294967295.0, 7.0)))
  }

  test("VAX-order floats fail loudly, never decode garbage") {
    val e = intercept[UnsupportedOperationException] {
      Hdf5.read(fixture("bad_vax.h5"))
    }
    assert(e.getMessage.contains("VAX"), e.getMessage)
  }

  test("unsigned integers decode exactly (Eiger gap-pixel sentinel)") {
    // uint32 array routes to f64 — 2^32-1 would round to 2^32 in Float
    assert(v2ByPath("/entry1/detector/u32_pixels").f64Data.map(_.toSeq)
      .contains(Seq(0.0, 4294967295.0, 7.0)))
    // uint64 scalar past Long.MaxValue
    assert(v2ByPath("/entry1/detector/u64_count").scalarF64
      .contains(math.pow(2, 63) + 5))
  }

  test("compound datasets (class 6) read as member child nodes") {
    // scalar {x: f64, n: i64, tag: str} with v1-encoded members
    val roi = v2ByPath("/entry1/detector/roi")
    assert(roi.attrs("compound_members") == "x,note,n,tag")
    assert(roi.scalarF64.isEmpty) // the parent carries structure, not data
    assert(v2ByPath("/entry1/detector/roi/x").scalarF64.contains(1.25))
    assert(v2ByPath("/entry1/detector/roi/n").scalarF64.contains(42.0))
    assert(v2ByPath("/entry1/detector/roi/tag").scalarStr.contains("roi"))
    // vlen-string member (mid-struct!) resolves through the global heap;
    // n and tag decode correctly AFTER it, proving the vlen base-type
    // encoding was consumed during the member parse
    assert(v2ByPath("/entry1/detector/roi/note").scalarStr.contains("powder A"))
    // array[3] {t: f32, v: f64} with v3-encoded members (strided slices)
    assert(v2ByPath("/entry1/detector/table/t").f64Data.map(_.toSeq)
      .contains(Seq(0.0, 0.5, 1.0)))
    assert(v2ByPath("/entry1/detector/table/v").f64Data.map(_.toSeq)
      .contains(Seq(10.0, 11.0, 12.0)))
    // nested compound {t, pos:{x,y}} flattens to dotted members with
    // absolute offsets, h5py's structured-dtype view
    val nest = v2ByPath("/entry1/detector/nested")
    assert(nest.attrs("compound_members") == "t,pos.x,pos.y")
    assert(v2ByPath("/entry1/detector/nested/t").scalarF64.contains(1.5))
    assert(v2ByPath("/entry1/detector/nested/pos.x").scalarF64.contains(2.25))
    assert(v2ByPath("/entry1/detector/nested/pos.y").scalarF64.contains(3.5))
    // ARRAY-TYPED member (class 10 inside a compound): [2] dataspace of
    // {t: f32, xy: f32[3,2]} -> xy reads as a [2,3,2] column, rows
    // concatenated, h5py's subarray-field view
    val xy = v2ByPath("/entry1/detector/traj/xy")
    assert(xy.dims == Seq(2L, 3L, 2L))
    assert(xy.f64Data.map(_.toSeq).contains(
      (0 until 6).map(_.toDouble) ++ (0 until 6).map(100.0 + _)))
    assert(v2ByPath("/entry1/detector/traj/t").f64Data.map(_.toSeq)
      .contains(Seq(0.0, 0.5)))
    // v1 members carrying their OWN dims (pre-class-10 array members):
    // scalar {bias: f64, gain: f64[4]}
    assert(v2ByPath("/entry1/detector/cal").attrs("compound_members")
      == "bias,gain")
    assert(v2ByPath("/entry1/detector/cal/bias").scalarF64.contains(1.0))
    val gain = v2ByPath("/entry1/detector/cal/gain")
    assert(gain.dims == Seq(4L))
    assert(gain.f64Data.map(_.toSeq).contains(Seq(2.0, 3.0, 4.0, 5.0)))
  }

  test("enum datatypes (class 8) read as their base integer, h5py-style") {
    assert(v2ByPath("/entry1/detector/mode").scalarF64.contains(1.0))
    // its compound-typed attribute is skipped, not a file-aborting failure
    assert(!v2ByPath("/entry1/detector/mode").attrs.contains("range"))
    // a compound attr whose MEMBER datatype doesn't even parse (vlen
    // string) is likewise skipped at the datatype-parse stage
    assert(!v2ByPath("/entry1/detector/mode").attrs.contains("label"))
    // an f16-typed attr (unsupported float WIDTH, not just order) skips
    // too — the dataset and file stay readable
    assert(!v2ByPath("/entry1/detector/mode").attrs.contains("half"))
    // numeric ARRAY attrs (v3 message) decode comma-joined: an i32
    // triple, and a 2x2 f64 flattening row-major
    assert(v2ByPath("/entry1/detector/mode").attrs("axes_i") == "1.0,2.0,3.0")
    assert(v2ByPath("/entry1/detector/mode").attrs("mat") == "1.5,2.5,3.5,4.5")
    // an oversized (>256-element) array attr is data mislabeled as
    // metadata: skipped, never decoded or aborting
    assert(!v2ByPath("/entry1/detector/mode").attrs.contains("big"))
  }

  test("array datatypes (class 10) fold element dims into trailing dims") {
    // v3 encoding: [2] dataspace of f32[3] elements -> [2,3] f32 data
    val v = v2ByPath("/entry1/detector/vectors")
    assert(v.dims == Seq(2L, 3L))
    assert(v.f32Data.map(_.toSeq).contains((0 until 6).map(_.toFloat)))
    // v2 encoding (reserved + permutation bytes) over a SCALAR dataspace:
    // one f64[2,2] element -> [2,2] f64 data
    val t = v2ByPath("/entry1/detector/tensor")
    assert(t.dims == Seq(2L, 2L))
    assert(t.f64Data.map(_.toSeq).contains((0 until 4).map(10.0 + _)))
  }

  test("truncated deflate chunks and string arrays fail loudly") {
    val e1 = intercept[IllegalArgumentException] {
      Hdf5.read(fixture("bad_deflate.h5"))
    }
    assert(e1.getMessage.contains("truncated or corrupt"))
    val e2 = intercept[UnsupportedOperationException] {
      Hdf5.read(fixture("str_array.h5"))
    }
    assert(e2.getMessage.contains("string ARRAY"))
  }

  test("extensible array with unlimited dim != 0 swizzles chunk order") {
    // libhdf5 swizzles chunk coords so the unlimited dim is slowest before
    // linearizing (H5VM_swizzle_coords); placement must unswizzle.
    val nodes = Hdf5.read(fixture("swizzle.h5"))
    // swz: 1x3 grid — linear order matches row-major, placement checked:
    // chunk i covers all 4 rows, cols 2i..2i+2, values i*8 + r*2 + cc
    val swz = nodes.find(_.path == "/swz").get
    assert(swz.dims == Seq(4L, 6L))
    val a = swz.f32Data.get
    for (r <- 0 until 4; c <- 0 until 6)
      assert(a(r * 6 + c) == ((c / 2) * 8 + r * 2 + (c % 2)).toFloat,
        s"swz($r,$c)")
    // swz2: 2x3 grid — swizzled element order (col-chunk major) genuinely
    // differs from row-major; expect the plain f32_grid values
    val swz2 = nodes.find(_.path == "/swz2").get
    val b = swz2.f32Data.get
    for (r <- 0 until 4; c <- 0 until 6)
      assert(b(r * 6 + c) == (r * 6 + c).toFloat, s"swz2($r,$c)")
  }

  test("scalar object references resolve to the referenced object's path") {
    val nodes = Hdf5.read(fixture("objref.h5"))
    def at(p: String) = nodes.find(_.path == p).get
    assert(at("/refs/to_ds").scalarStr.contains("/grp/target"))
    assert(at("/refs/to_grp").scalarStr.contains("/grp"))
    // zero address = null reference (h5py's None) -> '' default
    assert(at("/refs/to_null").scalarStr.contains(""))
    // an address that is no visited object header: marker, never silent
    val nowhere = at("/refs/to_nowhere")
    assert(nowhere.scalarStr.isEmpty)
    assert(nowhere.attrs.contains("unresolved_object_ref"))
    // the reference-typed ATTRIBUTE is skipped as opaque metadata
    assert(!at("/grp/target").attrs.contains("refattr"))
    assert(at("/grp/target").scalarF64.contains(42.0))
    // a USER attribute literally named 'object_ref_addr' on a plain
    // dataset is just an attribute — pending references live in a
    // dedicated Node field, so the value and the attribute both survive
    val decoy = at("/refs/decoy")
    assert(decoy.scalarF64.contains(7.0))
    assert(decoy.scalarStr.isEmpty)
    assert(decoy.attrs.contains("object_ref_addr"))
  }

  test("revised object references (rtype 2, HDF5 1.12 token form) resolve " +
      "to the referenced object's path; loud-fail corners stay loud") {
    // EPISTEMIC CAVEAT: these fixtures come from make_h5_fixtures.py,
    // written from the SAME layout assumptions as the decoder (2-byte
    // header + 4-byte blob size + 12-byte heap ID; blob = 1-byte token
    // size + 8-byte LE address) — this container has no h5py/libhdf5 to
    // produce an independent byte stream, so the parity here is circular
    // and a shared misassumption would surface only via the decoder's
    // loud require()s on real files. When an HDF5-capable environment
    // appears, add a fixture written by h5py >= 3 / libhdf5 >= 1.12 and
    // assert the resolved paths match (tracked in COVERAGE.md).
    val nodes = Hdf5.read(fixture("objref2.h5"))
    def at(p: String) = nodes.find(_.path == p).get
    assert(at("/refs/to_ds").scalarStr.contains("/grp/target"))
    assert(at("/refs/to_grp").scalarStr.contains("/grp"))
    assert(at("/grp/target").scalarF64.contains(43.0))
    // an all-zero element (zero ref-type byte, H5T__ref_disk_isnull's
    // test) and a typed element with a zero blob ID are both null -> ''
    assert(at("/refs/to_null").scalarStr.contains(""))
    assert(at("/refs/to_null_blob").scalarStr.contains(""))
    // heap index absent from the collection: marker, never silent
    val dang = at("/refs/dangling")
    assert(dang.scalarStr.isEmpty)
    assert(dang.attrs.contains("unresolved_object_ref"))
    // external reference (flags bit 0): cross-file, fail loudly
    val e1 = intercept[UnsupportedOperationException] {
      Hdf5.read(fixture("bad_objref2_ext.h5"))
    }
    assert(e1.getMessage.contains("external revised reference"))
    // non-8-byte token: not the native-VOL address form we decode
    val e2 = intercept[IllegalArgumentException] {
      Hdf5.read(fixture("bad_objref2_token.h5"))
    }
    assert(e2.getMessage.contains("token size"))
  }

  test("revised attribute references (rtype 4, HDF5 1.12 H5R_ATTR) resolve " +
      "to the OWNING object's path with the name in referenced_attribute; " +
      "null/dangling corners mirror rtype 2; a name-length mismatch is loud") {
    // Same epistemic caveat as the rtype-2 test above: self-written
    // fixtures from the documented libhdf5 layout (token part +
    // H5R__encode_string's 2-byte LE length + name bytes), pending an
    // independent libhdf5 byte stream.
    val nodes = Hdf5.read(fixture("attrref4.h5"))
    def at(p: String) = nodes.find(_.path == p).get
    val ref = at("/refs/to_attr")
    assert(ref.scalarStr.contains("/grp/target"))
    assert(ref.attrs.get("referenced_attribute").contains("units"))
    // the referenced attribute's VALUE reads through the owner's walk
    assert(at("/grp/target").attrs.get("units").contains("m"))
    assert(at("/refs/to_null").scalarStr.contains(""))
    assert(!at("/refs/to_null").attrs.contains("referenced_attribute"))
    assert(at("/refs/to_null_blob").scalarStr.contains(""))
    val dang = at("/refs/dangling")
    assert(dang.scalarStr.isEmpty)
    assert(dang.attrs.contains("unresolved_attr_ref"))
    // a blob whose 2-byte name length disagrees with the bytes that
    // follow means the layout is not what we think — loud, never a
    // misread into a wrong attribute name
    val e3 = intercept[IllegalArgumentException] {
      Hdf5.read(fixture("bad_objref2_attrname.h5"))
    }
    assert(e3.getMessage.contains("name claims"), e3.getMessage)
  }

  test("revised dataset-region references (rtype 3, HDF5 1.12 " +
      "H5R_DATASET_REGION2) resolve like rtype 1: target path + rendered " +
      "selection; null/dangling corners mirror rtype 2") {
    // Same epistemic caveat as the rtype-2 test above: self-written
    // fixtures from the documented libhdf5 layout (token part + 4-byte
    // selection size + 4-byte rank + H5S serialization), pending an
    // independent libhdf5 byte stream.
    val nodes = Hdf5.read(fixture("regionref2.h5"))
    def at(p: String) = nodes.find(_.path == p).get
    // the fixture pins the SAME selections as the rtype-1 fixture, so the
    // two forms must render identical region_selection strings
    val blk = at("/refs/to_block")
    assert(blk.scalarStr.contains("/grp/image"))
    assert(blk.attrs.get("region_selection").contains("1:3,2:5"))
    val un = at("/refs/to_union")
    assert(un.scalarStr.contains("/grp/image"))
    assert(un.attrs.get("region_selection").contains("0:1,0:2;3:4,4:6"))
    assert(at("/refs/to_points").attrs.get("region_selection").contains("points:3"))
    assert(at("/refs/to_all").attrs.get("region_selection").contains("all"))
    // zero ref-type byte and zero blob ID are both the null reference
    assert(at("/refs/to_null").scalarStr.contains(""))
    assert(!at("/refs/to_null").attrs.contains("region_selection"))
    assert(at("/refs/to_null_blob").scalarStr.contains(""))
    // dangling heap index: inspectable marker, never a silent hole
    val dang = at("/refs/dangling")
    assert(dang.scalarStr.isEmpty)
    assert(dang.attrs.contains("unresolved_region_ref"))
    assert(at("/grp/image").f64Data.exists(_.length == 24))
  }

  test("region references (rtype 1) resolve to the target path with the " +
      "selection rendered into region_selection") {
    val nodes = Hdf5.read(fixture("regionref.h5"))
    def at(p: String) = nodes.find(_.path == p).get
    // single-block hyperslab: rows 1:3, cols 2:5 of the 4x6 image,
    // half-open per-dim ranges (the h5py-slice reading of the region)
    val blk = at("/refs/to_block")
    assert(blk.scalarStr.contains("/grp/image"))
    assert(blk.attrs.get("region_selection").contains("1:3,2:5"))
    // disjoint block union: ;-joined in stored order
    val un = at("/refs/to_union")
    assert(un.scalarStr.contains("/grp/image"))
    assert(un.attrs.get("region_selection").contains("0:1,0:2;3:4,4:6"))
    // point selection summarizes by count, ALL renders as "all"
    assert(at("/refs/to_points").attrs.get("region_selection").contains("points:3"))
    assert(at("/refs/to_all").attrs.get("region_selection").contains("all"))
    // zero handle = null reference (h5py's None) -> '' default
    assert(at("/refs/to_null").scalarStr.contains(""))
    assert(!at("/refs/to_null").attrs.contains("region_selection"))
    // a handle whose index is absent from the collection: marker, never
    // a silent hole
    val dang = at("/refs/dangling")
    assert(dang.scalarStr.isEmpty)
    assert(dang.attrs.contains("unresolved_region_ref"))
    // the target dataset itself reads normally, and its region-ref-typed
    // ATTRIBUTE is skipped as opaque metadata (same policy as object refs)
    assert(at("/grp/image").f64Data.exists(_.length == 24))
    assert(!at("/grp/image").attrs.contains("roi_ref"))
  }

  test("region references with corrupt heap objects and reference arrays " +
      "fail loudly") {
    // heap object too short to hold the 8-byte target address
    val e1 = intercept[IllegalArgumentException] {
      Hdf5.read(fixture("bad_regionref.h5"))
    }
    assert(e1.getMessage.contains("region-reference heap object"))
    val e2 = intercept[UnsupportedOperationException] {
      Hdf5.read(fixture("bad_refarray.h5"))
    }
    assert(e2.getMessage.contains("object-reference ARRAY"))
    // compound member of reference type: the datatype parse rejects it
    // up front with the member name — never decodeF64's internal
    // invariant error
    val e3 = intercept[UnsupportedOperationException] {
      Hdf5.read(fixture("bad_refcompound.h5"))
    }
    assert(e3.getMessage.contains("compound member 'ref' type ObjRef"))
    // a DANGLING reference whose dataset carries a genuine user attribute
    // named like the marker: loud-fail, never silently overwrite it
    val e4 = intercept[IllegalArgumentException] {
      Hdf5.read(fixture("bad_refmarker.h5"))
    }
    assert(e4.getMessage.contains("unresolved_object_ref"))
  }

  test("end to end: binaryFile scan -> tree table -> typed reads (S3-S6)") {
    val dir = Files.createTempDirectory("h5src")
    Files.write(dir.resolve("a.h5"), fixture("mouse_v0.h5"))
    Files.write(dir.resolve("b.h5"), fixture("mouse_v2.h5"))

    val tree = Hdf5Source.treeTable(spark, dir.toString)
    // 11 v0 nodes + 27 v2 nodes (incl. links, the compound datasets'
    // parent + member-child rows — flat, vlen-string, array-typed-member,
    // v1-dims-member, array, and nested — the enum scalar, and the two
    // array-datatype datasets)
    assert(tree.count() == 38)

    val files = tree.select(col("file")).distinct()
    // a.h5 has the path, b.h5 defaults to 0.0 (S3 tolerate-missing)
    val cfg = TreeTable.translateOnto(tree, files,
        Seq(MappingRule("/entry1/instrument/configuration", "cfg", "f64")))
      .collect().map(r => r.getString(0).split("/").last -> r.getDouble(1)).toMap
    assert(cfg("a.h5") == 3.0 && cfg("b.h5") == 0.0)

    // S5 quantity: value+units struct, (NaN, dimensionless) default
    val q = TreeTable.translateOnto(tree, files,
        Seq(MappingRule("/entry1/detector/distance", "dist", "quantity")))
      .collect().map(r => r.getString(0).split("/").last -> r.getStruct(1)).toMap
    assert(q("b.h5").getDouble(0) == 2507.5 && q("b.h5").getString(1) == "mm")
    assert(q("a.h5").getDouble(0).isNaN && q("a.h5").getString(1) == "dimensionless")

    // K19 mean-if-array: a float read of an ARRAY dataset returns its mean
    // (get_float_from_h5 semantics), not the missing-path default
    val ang = TreeTable.translateOnto(tree, files,
        Seq(MappingRule("/entry1/sample/angles", "ang", "f64")))
      .collect().map(r => r.getString(0).split("/").last -> r.getDouble(1)).toMap
    assert(ang("a.h5") == 0.75 && ang("b.h5") == 0.0) // mean(0,0.5,1,1.5)

    // S6 image: the valueArr column carries the pixels, dims in attrs
    val img = tree.filter(col("path") === "/entry1/detector/data").head()
    assert(img.getAs[scala.collection.Seq[Float]]("valueArr").toSeq ==
      (0 until 30).map(_.toFloat))
    assert(img.getAs[Map[String, String]]("attrs")("dims") == "6,5")
  }

  test("treeTable resolves external links against sibling files (Eiger shape)") {
    val dir = Files.createTempDirectory("h5ext")
    Files.write(dir.resolve("master.h5"), fixture("extlink/master.h5"))
    Files.write(dir.resolve("data_000001.h5"), fixture("extlink/data_000001.h5"))

    // scan only the master — its data file is reached THROUGH the link,
    // executor-side via siblingResolver, exactly like a real Eiger layout
    val tree = Hdf5Source.treeTable(spark, dir.toString, glob = "master.h5")
    val rows = tree.collect().map(r => r.getAs[String]("path") -> r).toMap
    assert(rows.size == 5, rows.keys.toSeq.sorted.mkString("\n"))
    assert(rows("/entry/data/data").getAs[scala.collection.Seq[Float]]("valueArr")
      .toSeq == (0 until 6).map(_ * 2.0f))
    assert(rows("/entry/data/grp/x").getAs[Double]("valueF64") == 1.5)
    // the dangling links ride along as marker rows, not failures
    assert(rows("/entry/data/missing_file")
      .getAs[Map[String, String]]("attrs")("external_link_file") == "nope.h5")

    // direct resolver unit check: relative target against refPath's parent,
    // memoized; a missing sibling is None
    val resolve = Hdf5Source.siblingResolver(
      dir.resolve("master.h5").toString, spark.sparkContext.hadoopConfiguration)
    assert(resolve("data_000001.h5").exists(_.length > 0))
    assert(resolve("nope.h5").isEmpty)
  }

  test("treeTable resolves VDS source files as siblings (Eiger shape)") {
    val dir = Files.createTempDirectory("h5vds")
    Files.write(dir.resolve("vds_master.h5"), fixture("extlink/vds_master.h5"))
    Files.write(dir.resolve("vds_data_000001.h5"),
      fixture("extlink/vds_data_000001.h5"))
    Files.write(dir.resolve("vds_data_000002.h5"),
      fixture("extlink/vds_data_000002.h5"))

    // scan only the master — sources are pulled executor-side through the
    // SAME siblingResolver external links use
    val tree = Hdf5Source.treeTable(spark, dir.toString, glob = "vds_master.h5")
    val rows = tree.collect().map(r => r.getAs[String]("path") -> r).toMap
    assert(rows("/entry/vframes").getAs[scala.collection.Seq[Float]]("valueArr")
      .toSeq == (0 until 6).map(_.toFloat) ++ (0 until 6).map(100.0f + _))
    assert(rows("/entry/vnone").getAs[Map[String, String]]("attrs")(
      "virtual_missing_sources") == "vds_missing.h5")
  }

  test("VDS: printf sources resolve through the production siblingResolver") {
    // end to end on disk: the %b-substituted names are ordinary sibling
    // files of the master, exactly how a scan over an acquisition dir
    // resolves them (no test-map resolver involved)
    val dir = Files.createTempDirectory("h5printf")
    Seq("vds_master.h5", "vds_blk_000000.h5", "vds_blk_000001.h5",
      "vds_data_000001.h5", "vds_data_000002.h5").foreach(n =>
      Files.write(dir.resolve(n), fixture(s"extlink/$n")))
    val resolve = Hdf5Source.siblingResolver(
      dir.resolve("vds_master.h5").toString,
      spark.sparkContext.hadoopConfiguration)
    val nodes = Hdf5.read(fixture("extlink/vds_master.h5"), resolve)
    val byPath = nodes.map(n => n.path -> n).toMap
    assert(byPath("/entry/vprintf").f32Data.map(_.toSeq).contains(
      (0 until 6).map(_.toFloat) ++ (0 until 6).map(100.0f + _) ++
        Seq.fill(6)(0.0f)))
    assert(byPath("/entry/vprintf").attrs("virtual_missing_sources") ==
      "vds_blk_000002.h5")
    assert(byPath("/entry/vinterleave").f32Data.map(_.toSeq).contains(Seq(
      0f, 1f, 2f, 100f, 101f, 102f, 3f, 4f, 5f, 103f, 104f, 105f)))
  }

  test("oversized external-link targets degrade to markers, not scan aborts") {
    val dir = Files.createTempDirectory("h5big")
    Files.write(dir.resolve("master.h5"), fixture("extlink/master.h5"))
    Files.write(dir.resolve("data_000001.h5"), fixture("extlink/data_000001.h5"))
    // the sibling EXISTS but exceeds the injected buffer bound -> None
    val resolve = Hdf5Source.siblingResolver(
      dir.resolve("master.h5").toString,
      spark.sparkContext.hadoopConfiguration, maxBytes = 64)
    assert(resolve("data_000001.h5").isEmpty)
    // the parse completes; every link rides along as an inspectable marker
    val nodes = Hdf5.read(fixture("extlink/master.h5"), resolve)
    assert(nodes.size == 4, nodes.map(_.path).sorted.mkString("\n"))
    assert(nodes.forall(_.attrs.contains("external_link_file")))
  }

  test("treeTable's binaryFile scan reads only path+content (pruning)") {
    val dir = Files.createTempDirectory("h5prune")
    Files.write(dir.resolve("a.h5"), fixture("mouse_v0.h5"))
    val tree = Hdf5Source.treeTable(spark, dir.toString)
    // the scan schema must drop modificationTime/length — at 100 TB the
    // ingest cost is content bytes, and nothing else should ride along
    val scans = tree.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s.requiredSchema
    }
    assert(scans.nonEmpty)
    assert(scans.head.fieldNames.toSet == Set("path", "content"),
      scans.head.treeString)
  }

  test("streaming source: new files arrive as TreeRow micro-batches (§2.9)") {
    val dir = Files.createTempDirectory("h5stream")
    val out = Files.createTempDirectory("h5stream-out").toString
    val ckpt = Files.createTempDirectory("h5stream-ckpt").toString
    Files.write(dir.resolve("a.h5"), fixture("mouse_v0.h5"))

    def drain(): Unit = {
      val q = Hdf5Source.treeStream(spark, dir.toString)
        .writeStream
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    drain()
    assert(spark.read.parquet(out).count() == 11)
    // a second file lands -> only its rows are appended (incremental)
    Files.write(dir.resolve("b.h5"), fixture("mouse_v2.h5"))
    drain()
    val tree = spark.read.parquet(out)
    assert(tree.count() == 38) // + mouse_v2's 27 incl. compound children
    // the batch read-helper contract holds on the streamed table
    val files = tree.select(col("file")).distinct()
    val cfg = TreeTable.translateOnto(tree, files,
      Seq(MappingRule("/entry1/instrument/configuration", "cfg", "f64")))
    assert(cfg.count() == 2)
  }

  test("streaming source resolves external links (stream/batch DAG parity)") {
    val dir = Files.createTempDirectory("h5extstream")
    Files.write(dir.resolve("master.h5"), fixture("extlink/master.h5"))
    Files.write(dir.resolve("data_000001.h5"), fixture("extlink/data_000001.h5"))
    val out = Files.createTempDirectory("h5extstream-out").toString
    val ckpt = Files.createTempDirectory("h5extstream-ckpt").toString
    val q = Hdf5Source.treeStream(spark, dir.toString, glob = "master.h5")
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val tree = spark.read.parquet(out)
    assert(tree.count() == 5) // same shape as the batch extlink scan
    assert(tree.filter(col("path") === "/entry/data/grp/x").head()
      .getAs[Double]("valueF64") == 1.5)
  }

  test("streaming source assembles VDS through siblings (stream/batch parity)") {
    val dir = Files.createTempDirectory("h5vdsstream")
    for (n <- Seq("vds_master.h5", "vds_data_000001.h5", "vds_data_000002.h5"))
      Files.write(dir.resolve(n), fixture(s"extlink/$n"))
    val out = Files.createTempDirectory("h5vdsstream-out").toString
    val ckpt = Files.createTempDirectory("h5vdsstream-ckpt").toString
    val q = Hdf5Source.treeStream(spark, dir.toString, glob = "vds_master.h5")
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val rows = spark.read.parquet(out).collect()
      .map(r => r.getAs[String]("path") -> r).toMap
    assert(rows("/entry/vframes").getAs[scala.collection.Seq[Float]]("valueArr")
      .toSeq == (0 until 6).map(_.toFloat) ++ (0 until 6).map(100.0f + _))
    assert(rows("/entry/vnone").getAs[Map[String, String]]("attrs")(
      "virtual_missing_sources") == "vds_missing.h5")
  }

  test("corrupt or unsupported bytes fail loudly, never misread") {
    intercept[IllegalArgumentException] { Hdf5.read("not hdf5".getBytes) }
    val truncated = fixture("mouse_v0.h5").take(64)
    intercept[Exception] { Hdf5.read(truncated) }
  }

  test("seeded single-byte corruption of every fixture: throw or finish, " +
      "never hang or blow up") {
    // complements the truncation sweep with mid-file damage: flipped
    // size/offset/count fields must surface as clean exceptions (bounds
    // checks, signature checks, checksums), never hangs or pathological
    // allocations that would take down an executor
    // patterns: single-byte flips (seed 42), then mixed 4/8-byte field
    // corruption, every third mutation biased into the first 512 bytes
    // (superblock/root-header density; seed 44) — heavier offline
    // sweeps of these patterns (25k, 16k and 24k mutations) drove the
    // allocation guards in decodeArrayF64 / compoundChildren /
    // readChunkedV4 / parseSelection / compoundChildren-ArrayT
    val fixtures = Seq("mouse_v0.h5", "mouse_v2.h5", "mouse_v4.h5",
      "mouse_unlim.h5", "mouse_dense.h5", "extlink/master.h5",
      "extlink/vds_master.h5", "objref.h5", "mouse_bigendian.h5",
      "swizzle.h5", "regionref.h5", "objref2.h5")
    val rnd = new scala.util.Random(42)
    for (name <- fixtures; full = fixture(name); _ <- 1 to 300) {
      val bytes = full.clone()
      val at = rnd.nextInt(bytes.length)
      bytes(at) = (bytes(at) ^ (1 + rnd.nextInt(255))).toByte
      try { Hdf5.read(bytes); () }
      catch { case _: Exception => () } // loud failure is the contract
    }
    val rnd2 = new scala.util.Random(44)
    for (name <- fixtures; full = fixture(name); i <- 1 to 400) {
      val bytes = full.clone()
      val span = if (i % 2 == 0) 8 else 4
      val at = if (i % 3 == 0) rnd2.nextInt(math.min(512, bytes.length - span))
               else rnd2.nextInt(math.max(1, bytes.length - span))
      var k = 0
      while (k < span) {
        bytes(at + k) = (bytes(at + k) ^ (1 + rnd2.nextInt(255))).toByte
        k += 1
      }
      try { Hdf5.read(bytes); () }
      catch { case _: Exception => () } // loud failure is the contract
    }
  }

  test("systematic truncation of every fixture: throw or finish, never hang") {
    // the executor-facing contract on damaged files: a clean exception —
    // no infinite walks, no pathological allocations, no silent zeros
    for (name <- Seq("mouse_v0.h5", "mouse_v2.h5", "mouse_v4.h5",
      "mouse_unlim.h5", "mouse_dense.h5", "extlink/master.h5",
      "extlink/vds_master.h5", "objref.h5", "mouse_bigendian.h5",
      "swizzle.h5", "regionref.h5", "objref2.h5")) {
      val full = fixture(name)
      for (k <- 1 until 40) {
        val cut = java.util.Arrays.copyOf(full, math.max(9, full.length * k / 40))
        try { Hdf5.read(cut); () }
        catch { case _: Exception => () } // loud failure is the contract
      }
    }
  }
}
