package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.gds.{GdsCore, GdsWrite}

/** Packed-real `offset` support, pinned end-to-end: the OFFSET property
  * token was recovered from the Imputed_dosages fixture (the reference
  * always WRITES offset — value 0 — alongside SCALE,
  * R/ConvVCF2GDS.R:577-583), so nonzero-offset nodes decode as
  * code·scale + offset, and a record carrying a property this reader
  * has no token for still refuses packed decode rather than guess. */
class PackedOffsetSpec extends AnyFunSuite {

  test("the reference fixture's stored offset parses as exactly 0.0") {
    val f = new GdsCore.GdsFile(
      Fixtures.path("Imputed_dosages.gds"))
    try {
      val n = f.root("annotation")("format")("DS")("data")
      assert(n.cls.contains("dPackedReal8U"))
      // present (not NaN-absent) and zero — the always-written default
      assert(n.packedOffset == 0.0)
      assert(!n.unknownProps)
      assert(GdsCore.floatsDecodable(n))
    } finally f.close()
  }

  test("a nonzero-offset node decodes as code*scale + offset") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_pkoff").toString
    val path = s"$dir/shifted.gds"
    val vs = Seq(0.25f, 1.5f, Float.NaN, 2.0f)
    // payload stores (v - offset)/scale codes: build it from pre-shifted
    // values so the decoded output must come back at the true values
    val offset = 2.5
    val shifted = vs.map(v => if (v.isNaN) v else (v - offset).toFloat)
    val payload = GdsWrite.packedRealPayload(shifted, 0.0001, 2,
      unsigned = false)
    val c = new GdsWrite.Container()
    val rootId = c.allocId()
    val node = c.node("dPackedReal16", Seq(vs.length), payload,
      packedScale = Some(0.0001), packedOffset = offset)
    c.folderAt(rootId, Seq((node, "v", 0)))
    c.save(path, rootId)
    val f = new GdsCore.GdsFile(path)
    try {
      val n = f.root("v")
      assert(n.packedOffset == offset)
      assert(n.packedScale == 0.0001)
      assert(!n.unknownProps)
      val got = GdsCore.floats(f, n)
      assert(got(2).isNaN)
      for (i <- Seq(0, 1, 3))
        assert(math.abs(got(i) - vs(i)) < 1e-4,
          s"i=$i got ${got(i)} want ${vs(i)}")
      // ranged decode applies the offset too
      val r = GdsCore.floatsRange(f, n, 3L, 1)
      assert(math.abs(r(0) - 2.0f) < 1e-4)
    } finally f.close()
  }

  test("a zero-offset write round-trips unchanged (fixture layout)") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_pkoff").toString
    val path = s"$dir/clean.gds"
    val vs = Seq(0.25f, 1.5f, Float.NaN, 2.0f)
    val payload = GdsWrite.packedRealPayload(vs, 0.0001, 2,
      unsigned = false)
    val c = new GdsWrite.Container()
    val rootId = c.allocId()
    val node = c.node("dPackedReal16", Seq(vs.length), payload,
      packedScale = Some(0.0001))
    c.folderAt(rootId, Seq((node, "v", 0)))
    c.save(path, rootId)
    val f = new GdsCore.GdsFile(path)
    try {
      val n = f.root("v")
      assert(n.packedOffset == 0.0 && !n.unknownProps)
      val got = GdsCore.floats(f, n)
      assert(got(0) == 0.25f && got(1) == 1.5f && got(2).isNaN
        && got(3) == 2.0f)
    } finally f.close()
  }

  test("a packed node with an unparsed property refuses with a clear " +
      "error instead of decoding wrong") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_pkoff").toString
    val path = s"$dir/foreign.gds"
    val vs = Seq(0.25f, 1.5f)
    val payload = GdsWrite.packedRealPayload(vs, 0.0001, 2,
      unsigned = false)
    val c = new GdsWrite.Container()
    val rootId = c.allocId()
    val did = c.data(payload)
    val rec = GdsWrite.dataRecord("dPackedReal16", payload.length,
      payload.length, Seq(vs.length), did, new GdsWrite.Attrs(), None,
      Some(0.0001))
    val tokDataId = Array(0x09, 0xc4, 0xc3, 0x7c, 0x0c).map(_.toByte)
    val at = rec.indexOfSlice(tokDataId)
    assert(at > 0, "data-id token not found in record")
    // a property with a token this reader does not know, in the same
    // tag family as offset/scale
    val foreign = Array(0x13, 0x87, 0x51, 0x62, 0x73, 0x19, 0x02,
      1, 2, 3, 4, 5, 6, 7, 8).map(_.toByte)
    val spliced = rec.take(at) ++ foreign ++ rec.drop(at)
    val rid = c.allocId()
    c.record(rid, spliced)
    c.folderAt(rootId, Seq((rid, "v", 0)))
    c.save(path, rootId)
    val f = new GdsCore.GdsFile(path)
    try {
      val n = f.root("v")
      assert(n.cls.contains("dPackedReal16"))
      assert(n.dims == Seq(2))
      assert(n.unknownProps)
      assert(!GdsCore.floatsDecodable(n))
      val e = intercept[UnsupportedOperationException] {
        GdsCore.floats(f, n)
      }
      assert(e.getMessage.contains("does not parse"))
    } finally f.close()
  }
}
