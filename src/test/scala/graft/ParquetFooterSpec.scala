package graft

import graft.functions.ParquetFooter

/** Parquet footer walker (thrift compact): anchored against the REAL
  * pyarrow-written testdata files (writer identity, row counts
  * cross-checked with Spark's own parquet reader — three independent
  * implementations in the loop), plus synth round-trips and the
  * truncation/corruption gates. */
class ParquetFooterSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("REAL pyarrow footers parse; rows/columns match Spark's reader") {
    for (tbl <- Seq("region", "nation", "supplier", "orders", "documents")) {
      val path = s"$sf/$tbl.parquet"
      val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path))
      val m = ParquetFooter.parse(bytes)
      assert(m.isDefined, s"$tbl footer did not parse")
      val df = spark.read.parquet(path)
      assert(m.get.numRows === df.count(), s"$tbl rows")
      assert(m.get.nColumns === df.schema.fields.length, s"$tbl columns")
      assert(m.get.nRowGroups >= 1)
      assert(m.get.createdBy.startsWith("parquet-cpp-arrow"), s"$tbl writer")
      assert(m.get.totalByteSize > 0)
    }
  }

  test("blob_kind routes PAR1 blobs to 'parquet'") {
    assert(graft.functions.BlobKind.kind(
      ParquetFooter.synth(3L, corrupt = false)) === "parquet")
    val real = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$sf/nation.parquet"))
    assert(graft.functions.BlobKind.kind(real) === "parquet")
  }

  test("synth footers replay the arithmetic at several ids") {
    for (id <- Seq(0L, 1L, 2L, 3L, 4L, 5L, 14L, 47L, 470L)) {
      val m = ParquetFooter.parse(ParquetFooter.synth(id, corrupt = false))
      assert(m.isDefined, s"id=$id")
      assert(m.get.version === 2)
      assert(m.get.numRows === 100 + id % 1000)
      assert(m.get.nColumns === (1 + id % 5).toInt)
      assert(m.get.nRowGroups === (1 + id % 3).toInt)
      val want = (0 until m.get.nRowGroups)
        .map(g => 1000L + (id + g * 13) % 5000).sum
      assert(m.get.totalByteSize === want)
      assert(m.get.createdBy === "graft-parquet 1.0")
      assert(ParquetFooter.parse(ParquetFooter.synth(id, corrupt = true)).isEmpty)
    }
  }

  test("truncation at every byte never throws; tail mutations gate") {
    val blob = ParquetFooter.synth(9L, corrupt = false)
    // every truncation: DecoderTotalitySpec's parquet_footer row
    assert(ParquetFooter.parse(null).isEmpty)
    assert(ParquetFooter.parse(Array.empty[Byte]).isEmpty)
    // magic damage front and back
    val front = blob.clone(); front(0) = 'X'.toByte
    assert(ParquetFooter.parse(front).isEmpty)
    val back = blob.clone(); back(back.length - 1) = 'X'.toByte
    assert(ParquetFooter.parse(back).isEmpty)
    // footer length pointing before the leading magic
    val fl = blob.clone()
    fl(fl.length - 8) = (fl.length & 0xff).toByte
    fl(fl.length - 7) = ((fl.length >> 8) & 0xff).toByte
    assert(ParquetFooter.parse(fl).isEmpty)
  }

  test("bit-flip fuzz over the real region footer: null or sane, never a throw") {
    val bytes = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$sf/region.parquet"))
    for (mut <- Mutations.bitFlips(bytes, 2000, 12345L))
      ParquetFooter.parse(mut).foreach(m =>
        assert(m.numRows >= 0 && m.nColumns >= 1 && m.nRowGroups >= 0))
  }
}
