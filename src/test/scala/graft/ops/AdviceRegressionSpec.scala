package graft.ops

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, FilterFileSystem, Path}
import org.scalatest.funsuite.AnyFunSuite

/** Regression pins for advisory findings that live behind
  * package-private surfaces (the driver union-find's primitive map and the
  * directory-swap primitive) or inside a single expression's evaluation
  * (the md5 minhash digest buffer); the DataFrame-level findings are
  * pinned in the graft-package specs next to their ops. */
class AdviceRegressionSpec extends AnyFunSuite {

  test("LongLongMap grows through resizes and refuses maxCap with a clear error") {
    // maxCap 128: cap starts at the 64 floor, one grow to 128 succeeds,
    // the next (n > 64) must fail actionably instead of wrapping the
    // capacity negative (cap <<= 1 at 1<<30 -> NegativeArraySizeException)
    val m = new Dedup.LongLongMap(4, maxCap = 128)
    (1L to 64L).foreach(k => m.put(k, k * 10))
    assert(m.size == 64)
    (1L to 64L).foreach(k => assert(m.get(k) == k * 10)) // survived the resize
    val e = intercept[IllegalStateException] { m.put(65L, 650L) }
    assert(e.getMessage.contains("localEdgeLimit"), e.getMessage)
    // overwrites of existing keys never trigger growth
    m.put(1L, 11L)
    assert(m.get(1L) == 11L)
  }

  test("promoteStaged survives a reader heal racing the retire->promote window") {
    val conf = new Configuration()
    val raw = FileSystem.getLocal(conf)
    val base = java.nio.file.Files.createTempDirectory("ivf_race").toString
    val root = base + "/idx"
    def p(s: String) = new Path(s)
    // live generation and a fully-staged new one, each with a marker dir
    raw.mkdirs(p(s"$root/marker_old"))
    raw.mkdirs(p(s"$root/centroids"))
    raw.mkdirs(p(s"${root}__stage/marker_new"))
    raw.mkdirs(p(s"${root}__stage/centroids"))
    // play the racing reader: the instant the writer attempts its FIRST
    // promote (renaming the stage), a reader heal has already restored
    // the retired generation to the target — exactly the advisory's window
    val fs = new FilterFileSystem(raw) {
      private var injected = false
      override def rename(src: Path, dst: Path): Boolean = {
        if (!injected && src.getName.endsWith("__stage")) {
          injected = true
          super.rename(p(s"${root}__old"), p(root)) // reader heal fires
        }
        super.rename(src, dst)
      }
    }
    DirSwap(fs, p(root), p(s"${root}__stage"), p(s"${root}__old")).commit()
    // the staged generation won (not the restored retiree, and not a
    // stage nested INSIDE the retiree — the local-fs copy-fallback mode)
    assert(raw.exists(p(s"$root/marker_new")))
    assert(!raw.exists(p(s"$root/marker_old")))
    assert(!raw.exists(p(s"$root/idx__stage")))
    assert(!raw.exists(p(s"${root}__old")) && !raw.exists(p(s"${root}__stage")))
  }

  test("promoteStaged clean swap and crashed-retire recovery") {
    val raw = FileSystem.getLocal(new Configuration())
    val base = java.nio.file.Files.createTempDirectory("ivf_swap").toString
    def p(s: String) = new Path(s)
    // clean swap over a live target
    val r1 = base + "/a"
    raw.mkdirs(p(s"$r1/marker_old")); raw.mkdirs(p(s"${r1}__stage/marker_new"))
    DirSwap(raw, p(r1), p(s"${r1}__stage"), p(s"${r1}__old")).commit()
    assert(raw.exists(p(s"$r1/marker_new")) && !raw.exists(p(s"${r1}__old")))
    // target absent entirely (first build, or retired by a crashed writer
    // whose __old a reader already healed away): promote lands directly
    val r2 = base + "/b"
    raw.mkdirs(p(s"${r2}__stage/marker_new"))
    DirSwap(raw, p(r2), p(s"${r2}__stage"), p(s"${r2}__old")).commit()
    assert(raw.exists(p(s"$r2/marker_new")) && !raw.exists(p(s"${r2}__stage")))
  }

  test("Md5MinHashSigs equals the string formulation for negative hashes at k = 1001 and k = 10001") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.{ArrayType, LongType}
    import graft.functions.Md5MinHashSigs
    val md = java.security.MessageDigest.getInstance("MD5")
    def h60(s: String): Long =
      java.lang.Long.parseLong(
        md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
          .substring(0, 15), 16)
    // the widest inputs: 19-digit negatives ("-" + 19 digits) and the
    // longest j prefixes these k reach
    val hs = Seq(Long.MinValue, -4242424242424242424L, -1L, 0L, 7L,
      Long.MaxValue, -1L)
    val input = Literal.create(hs, ArrayType(LongType, containsNull = false))
    for (k <- Seq(1001, 10001)) {
      val got = Md5MinHashSigs(input, k).eval()
        .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
        .toLongArray().toSeq
      val want = (0 until k).map(j => hs.distinct.map(h => h60(s"$j:$h")).min)
      assert(got == want, s"k = $k")
    }
  }
}
