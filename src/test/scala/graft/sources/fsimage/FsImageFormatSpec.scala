package graft.sources.fsimage

import org.scalatest.funsuite.AnyFunSuite
import java.io.ByteArrayOutputStream

/** Round-trip spec: a minimal protobuf writer (varint/fixed64/delimited)
  * generates INODE / INODE_DIR / STRING_TABLE sections with edge-case
  * values (multi-byte varints, high-bit longs, packed children), and the
  * parser must recover them exactly. */
class FsImageFormatSpec extends AnyFunSuite {

  private class W {
    val out = new ByteArrayOutputStream()
    def varint(v0: Long): W = {
      var v = v0
      while ((v & ~0x7FL) != 0) { out.write(((v & 0x7F) | 0x80).toInt); v >>>= 7 }
      out.write(v.toInt); this
    }
    def tag(field: Int, wt: Int): W = varint((field << 3) | wt)
    def fixed64(v: Long): W = {
      (0 until 8).foreach(i => out.write(((v >>> (8 * i)) & 0xFF).toInt)); this
    }
    def bytes(field: Int, b: Array[Byte]): W = {
      tag(field, 2); varint(b.length); out.write(b); this
    }
    def str(field: Int, s: String): W = bytes(field, s.getBytes("UTF-8"))
    def msg(field: Int)(f: W => Unit): W = {
      val inner = new W; f(inner); bytes(field, inner.out.toByteArray)
    }
    def delimited(f: W => Unit): W = {
      val inner = new W; f(inner)
      varint(inner.out.toByteArray.length); out.write(inner.out.toByteArray); this
    }
    def toBytes: Array[Byte] = out.toByteArray
  }

  test("inode section round-trips with edge-case values") {
    val bigId = (1L << 62) + 12345
    val w = new W
    w.delimited { h => h.tag(1, 0).varint(999); h.tag(2, 0).varint(2) } // header
    w.delimited { m =>
      m.tag(1, 0).varint(1) // FILE
      m.tag(2, 0).varint(bigId)
      m.str(3, "file_π") // multi-byte utf8
      m.msg(4) { f =>
        f.tag(1, 0).varint(300)               // replication (2-byte varint)
        f.tag(2, 0).varint(1553556718856L)    // mtime
        f.tag(5, 1).fixed64((7L << 40) | (3L << 16) | 0x1FF) // perm u=7,g=3,mode=0777
        f.msg(6) { b => b.tag(1, 0).varint(1); b.tag(2, 0).varint(1); b.tag(3, 0).varint(Int.MaxValue.toLong + 5) }
        f.msg(6) { b => b.tag(3, 0).varint(11) }
        f.tag(12, 0).varint(4) // ecPolicy — skipped-field robustness
      }
    }
    w.delimited { m =>
      m.tag(1, 0).varint(2) // DIRECTORY
      m.tag(2, 0).varint(16385)
      m.str(3, "")
      m.msg(5) { d => d.tag(1, 0).varint(42L); d.tag(4, 1).fixed64(0x1ED) }
    }

    val bytes = w.toBytes
    val afterHeader = FsImageFormat.messageOffsets(bytes)(1)
    val inodes = FsImageFormat.parseInodeRange(bytes, afterHeader, bytes.length).toVector
    assert(inodes.length == 2)
    val f = inodes(0)
    assert(f.id == bigId && f.inodeType == 1 && f.name == "file_π")
    assert(f.replication == 300 && f.mtime == 1553556718856L)
    assert(f.numBlocks == 2 && f.sizeBytes == Int.MaxValue.toLong + 5 + 11)
    assert(FsImageFormat.permUserSerial(f.permission) == 7)
    assert(FsImageFormat.permGroupSerial(f.permission) == 3)
    assert(FsImageFormat.permMode(f.permission) == 0x1FF)
    assert(f.ecPolicy == 4)
    val d = inodes(1)
    assert(d.inodeType == 2 && d.id == 16385 && d.mtime == 42L)
  }

  test("dir entries parse both packed and unpacked children") {
    val w = new W
    w.delimited { m =>
      m.tag(1, 0).varint(16385)
      m.msg(2) { p => p.varint(16386); p.varint(1L << 40); p.varint(3) } // packed
    }
    w.delimited { m =>
      m.tag(1, 0).varint(99)
      m.tag(2, 0).varint(7) // unpacked single
    }
    val bytes = w.toBytes
    val entries = FsImageFormat.parseDirRange(bytes, 0, bytes.length).toVector
    assert(entries(0).parent == 16385)
    assert(entries(0).children.toSeq == Seq(16386L, 1L << 40, 3L))
    assert(entries(1).children.toSeq == Seq(7L))
  }

  test("messageOffsets covers every message exactly") {
    val w = new W
    (1 to 5).foreach(i => w.delimited(_.tag(1, 0).varint(i)))
    val bytes = w.toBytes
    val offs = FsImageFormat.messageOffsets(bytes)
    assert(offs.length == 5 && offs.head == 0)
    // ranged parse over a split must see all messages once
    val mid = offs(2)
    val a = FsImageFormat.parseDirRange(bytes, 0, mid).toVector
    val b = FsImageFormat.parseDirRange(bytes, mid, bytes.length).toVector
    assert(a.length + b.length == 5)
  }

  test("typed vs flat string tables") {
    def table(maskBits: Int, entries: Seq[(Long, String)]): Array[Byte] = {
      val w = new W
      w.delimited { h => h.tag(1, 0).varint(entries.length); if (maskBits > 0) h.tag(2, 0).varint(maskBits) }
      entries.foreach { case (id, s) => w.delimited { e => e.tag(1, 0).varint(id); e.str(2, s) } }
      w.toBytes
    }
    val typed = FsImageFormat.parseStringTable(
      table(3, Seq(((1L << 29) | 1) -> "alice", ((2L << 29) | 1) -> "staff")))
    assert(typed.user(1) == "alice" && typed.group(1) == "staff")
    val flat = FsImageFormat.parseStringTable(table(0, Seq(1L -> "bob", 2L -> "wheel")))
    assert(flat.user(1) == "bob" && flat.group(2) == "wheel")
  }
}
