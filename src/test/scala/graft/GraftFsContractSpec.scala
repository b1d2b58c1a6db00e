package graft

import graft.sources.GraftFsContract

/** The supported-filesystem contract ([[graft.sources.GraftFsContract]]):
  * commit primitives trust atomic no-overwrite create + atomic rename,
  * so a table on a stock object-store connector must REFUSE loudly
  * (silent lost commits are the alternative), local/HDFS paths pass,
  * and the explicit trust override re-enables object-store schemes for
  * deployments that front them with a consistency layer. */
class GraftFsContractSpec extends org.scalatest.funsuite.AnyFunSuite {

  test("local and hdfs paths pass") {
    GraftFsContract.requireAtomicCommitFs("/tmp/t")
    GraftFsContract.requireAtomicCommitFs("file:///tmp/t")
    GraftFsContract.requireAtomicCommitFs("hdfs://nn:8020/warehouse/t")
  }

  test("object-store schemes refuse, naming the failure mode and outs") {
    Seq("s3a://bucket/t", "s3://bucket/t", "gs://bucket/t",
      "abfss://c@acct.dfs.core.windows.net/t", "wasb://c@acct/t")
      .foreach { p =>
        val e = intercept[UnsupportedOperationException] {
          GraftFsContract.requireAtomicCommitFs(p)
        }
        assert(e.getMessage.contains("atomic no-overwrite create"), p)
        assert(e.getMessage.contains("trustAtomicCreate"), p)
      }
  }

  test("the trust override re-enables object-store schemes") {
    val k = "graft.fs.trustAtomicCreate"
    sys.props(k) = "true"
    try GraftFsContract.requireAtomicCommitFs("s3a://bucket/t")
    finally sys.props.remove(k)
  }

  test("small-file bodies are read to EOF across short reads") {
    // a legal InputStream that hands out ONE byte per read: a single
    // read would see "5" of an MV state "57\n112", and stopping early
    // anywhere can parse as a different valid state ("57\n11")
    def trickle(body: String): java.io.InputStream =
      new java.io.InputStream {
        private val bytes = body.getBytes("UTF-8")
        private var at = 0
        override def read(): Int =
          if (at >= bytes.length) -1
          else { at += 1; bytes(at - 1) & 0xff }
        override def read(b: Array[Byte], off: Int, len: Int): Int =
          if (at >= bytes.length) -1
          else if (len == 0) 0
          else { b(off) = bytes(at); at += 1; 1 }
      }
    assert(GraftFsContract.readToEnd(trickle("57\n112")) == "57\n112")
    val token = java.util.UUID.randomUUID().toString
    assert(GraftFsContract.readToEnd(trickle(token + "\n")) == token)
    assert(GraftFsContract.readToEnd(trickle("")) == "")
    // a body longer than the internal buffer still arrives whole
    val long = "x" * 1000
    assert(GraftFsContract.readToEnd(trickle(long)) == long)
  }
}
