package graft.sources.fsimage

import java.io.InputStream
import java.nio.ByteBuffer
import scala.collection.mutable.ArrayBuffer

/** Minimal protobuf wire-format reader for HDFS fsimage files — built from
  * the public fsimage.proto / hdfs.proto layout (Apache Hadoop) and
  * validated against the reference's documented test images
  * (reference lib/.../core/FsImageLoaderTest.java:27-62 lists the exact
  * expected namespace). No Hadoop classes, no generated protobuf code.
  *
  * File layout: "HDFSIMG1" magic; sections back-to-back; FileSummary
  * (varint-delimited protobuf) at the tail, followed by its 4-byte
  * big-endian length as the file's last bytes.
  *
  * Scale posture: nothing here requires materializing a section. The
  * streaming pieces ([[scanRanges]], [[sectionRawStream]],
  * [[ZlibConcatInputStream]]) let a driver pre-scan message boundaries in
  * O(buffer) memory, and [[readRange]] lets each executor pull only its own
  * byte range of the (uncompressed view of the) image.
  */
object FsImageFormat {

  final case class Section(name: String, length: Long, offset: Long)
  final case class FileSummary(ondiskVersion: Int, layoutVersion: Int,
                               codec: Option[String], sections: Seq[Section])

  /** Raw inode record (union of the three inode types' fields).
    * `consumedBytes` carries the reference's consumed-size semantics
    * (FsUtil.java:122-135): Σblock×replication for replicated files, the
    * cells/rows/parity formula for erasure-coded ones. `aclRaw` holds the
    * undecoded fixed32 ACL entries (decode with [[aclEntryString]] once a
    * string table is at hand); `xattrNames`/`xattrValues` likewise hold the
    * undecoded per-entry fixed32 name bits and value bytes (decode with
    * [[xattrString]]). */
  final case class RawInode(
      id: Long, inodeType: Int, name: String,
      // files
      replication: Int, mtime: Long, atime: Long, preferredBlockSize: Long,
      permission: Long, numBlocks: Int, sizeBytes: Long, consumedBytes: Long,
      storagePolicy: Int, ecPolicy: Int,
      // symlink
      symlinkTarget: String,
      aclRaw: Array[Int],
      xattrNames: Array[Int], xattrValues: Array[Array[Byte]],
      // directories: namespace / diskspace quota, -1 = no quota (Hadoop
      // writes -1 explicitly for quota-less dirs; reference
      // tool/.../JsonUtil.java:54-55 surfaces both verbatim)
      nsQuota: Long = -1L, dsQuota: Long = -1L,
      // FileUnderConstructionFeature (INodeFile field 7): present iff the
      // file had an open lease at image time — the `hdfs dfsadmin
      // -listOpenFiles` readout. The reference drops this feature
      // entirely (FsImageLoader.java loads only string/inode/dir).
      underConstruction: Boolean = false,
      ucClient: String = "", ucMachine: String = "")

  final case class DirEntry(parent: Long, children: Array[Long])

  final case class StringTables(users: Map[Long, String], groups: Map[Long, String],
                                xattrs: Map[Long, String],
                                flat: Map[Long, String], typed: Boolean) {
    def user(serial: Long): String =
      if (typed) users.getOrElse(serial, s"user#$serial")
      else flat.getOrElse(serial, s"user#$serial")
    def group(serial: Long): String =
      if (typed) groups.getOrElse(serial, s"group#$serial")
      else flat.getOrElse(serial, s"group#$serial")
    def xattrName(serial: Long): String =
      if (typed) xattrs.getOrElse(serial, s"xattr#$serial")
      else flat.getOrElse(serial, s"xattr#$serial")
  }

  // ------------------------------------------------------------ EC policies

  /** Built-in HDFS erasure-coding policies (public constants from Hadoop's
    * SystemErasureCodingPolicies; all cells are 1 MiB). The reference
    * resolves these via `SystemErasureCodingPolicies.getByID`
    * (lib/.../util/FsUtil.java:125). */
  final case class EcPolicy(id: Int, name: String, dataUnits: Int,
                            parityUnits: Int, cellSize: Long)

  val EcPoliciesById: Map[Int, EcPolicy] = Seq(
    EcPolicy(1, "RS-6-3-1024k", 6, 3, 1L << 20),
    EcPolicy(2, "RS-3-2-1024k", 3, 2, 1L << 20),
    EcPolicy(3, "RS-LEGACY-6-3-1024k", 6, 3, 1L << 20),
    EcPolicy(4, "XOR-2-1-1024k", 2, 1, 1L << 20),
    EcPolicy(5, "RS-10-4-1024k", 10, 4, 1L << 20)
  ).map(p => p.id -> p).toMap

  def ecPolicyName(id: Int): String = ecPolicyName(id, EcPoliciesById)

  def ecPolicyName(id: Int, policies: Map[Int, EcPolicy]): String =
    if (id == 0) "" else policies.get(id).map(_.name).getOrElse(s"ec#$id")

  /** ERASURE_CODING section (public fsimage.proto ErasureCodingSection):
    * ONE delimited message of repeated ErasureCodingPolicyProto {name=1,
    * schema=2 {codecName=1, dataUnits=2, parityUnits=3}, cellSize=3,
    * id=4, state=5} — the CUSTOM policies (ids ≥ 64) an admin added
    * beyond the built-in five. Decoding them upgrades consumed-size math
    * and policy names for such files from the documented fallback
    * (data bytes, `ec#id`) to the real parity formula and name. An
    * absent name derives Hadoop's canonical `CODEC-d-p-⌊cell/1024⌋k`.
    * The reference resolves only the built-in policies
    * (SystemErasureCodingPolicies; FsUtil.java:125) and drops this
    * section. */
  def parseErasureCoding(bytes: Array[Byte]): Seq[EcPolicy] = {
    val it = delimited(bytes, 0, bytes.length)
    if (!it.hasNext) return Seq.empty
    val out = Seq.newBuilder[EcPolicy]
    it.next().eachField { (fn, wt, r) =>
      (fn, wt) match {
        case (1, 2) =>
          val p = r.subMessage()
          var name = ""; var codec = ""; var data = 0; var parity = 0
          var cell = 0L; var id = 0
          p.eachField { (pf, pw, pr) =>
            (pf, pw) match {
              case (1, 2) => name = new String(pr.bytes(pr.varint().toInt), "UTF-8")
              case (2, 2) =>
                val s = pr.subMessage()
                s.eachField { (sf, sw, sr) =>
                  (sf, sw) match {
                    case (1, 2) => codec = new String(sr.bytes(sr.varint().toInt), "UTF-8")
                    case (2, 0) => data = sr.varint().toInt
                    case (3, 0) => parity = sr.varint().toInt
                    case _      => sr.skip(sw)
                  }
                }
              case (3, 0) => cell = pr.varint()
              case (4, 0) => id = pr.varint().toInt
              case _      => pr.skip(pw)
            }
          }
          val resolved = if (name.nonEmpty) name
            else s"${codec.toUpperCase}-$data-$parity-${cell / 1024}k"
          out += EcPolicy(id, resolved, data, parity, cell)
        case _ => r.skip(wt)
      }
    }
    out.result()
  }

  /** Consumed size of one block under an EC policy: the data bytes plus a
    * full row of parity cells per started row of data cells — the exact
    * formula of reference FsUtil.getConsumedFileSize (FsUtil.java:126-130).
    */
  def ecBlockConsumed(blockBytes: Long, p: EcPolicy): Long = {
    val cells = math.ceil(blockBytes.toDouble / p.cellSize) // count of cells
    val rows = math.ceil(cells / p.dataUnits).toLong        // rows of cell groups
    blockBytes + rows * p.parityUnits * p.cellSize
  }

  // ------------------------------------------------------------ ACL decode

  /** On-disk ACL entry layout (public constants from Hadoop's
    * FSImageFormatPBINode: perm bits 0-2, type bits 3-4, scope bit 5, name
    * string-id bits 6-29; name id 0 = unnamed entry). The reference decodes
    * these with `FSImageFormatPBINode.Loader.loadAclEntries`
    * (lib/.../core/FsImageData.java:208-226). */
  private val FsActionSymbols = Array("---", "--x", "-w-", "-wx", "r--", "r-x", "rw-", "rwx")
  private val AclTypes = Array("user", "group", "mask", "other")

  /** Decodes one fixed32 ACL entry to Hadoop's `AclEntry.toString` form,
    * e.g. `user:bob:rwx`, `default:group::r-x`. ACL names live in the
    * user namespace of the string table (SerialNumberManager.USER). */
  def aclEntryString(v: Int, strings: StringTables): String = {
    val perm = v & 7
    val typ = (v >>> 3) & 3
    val scope = (v >>> 5) & 1
    val nid = (v >>> 6) & ((1 << 24) - 1)
    val name = if (nid == 0) "" else strings.user(nid.toLong)
    val prefix = if (scope == 1) "default:" else ""
    s"$prefix${AclTypes(typ)}:$name:${FsActionSymbols(perm)}"
  }

  // ----------------------------------------------------------- XAttr decode

  /** On-disk XAttr name layout (public constants from Hadoop's XAttrFormat /
    * FSImageFormatPBINode): namespace bits 30-31 plus an extension bit at
    * bit 5 (namespaces beyond the original four, i.e. RAW), name string-id
    * bits 6-29. Values are raw bytes. */
  private val XAttrNamespaces = Array("user", "trusted", "security", "system", "raw")

  /** Decodes one XAttr entry to getfattr-style `namespace.name=<hex value>`
    * (values are arbitrary bytes, so they render as lowercase hex; an
    * absent/empty value renders as an empty string after `=`). */
  def xattrString(nameBits: Int, value: Array[Byte], strings: StringTables): String = {
    val ns = ((nameBits >>> 30) & 3) | (((nameBits >>> 5) & 1) << 2)
    val nid = (nameBits >>> 6) & ((1 << 24) - 1)
    val nsName =
      if (ns < XAttrNamespaces.length) XAttrNamespaces(ns) else s"ns#$ns"
    val hex = value.map(b => f"${b & 0xFF}%02x").mkString
    s"$nsName.${strings.xattrName(nid.toLong)}=$hex"
  }

  // --------------------------------------------------------------- wire fmt

  private final class Reader(buf: Array[Byte], var pos: Int, val end: Int) {
    def hasMore: Boolean = pos < end

    def varint(): Long = {
      var r = 0L; var s = 0
      var b = 0
      do {
        b = buf(pos) & 0xFF; pos += 1
        r |= (b & 0x7FL) << s; s += 7
      } while ((b & 0x80) != 0)
      r
    }

    def fixed64(): Long = {
      val v = ByteBuffer.wrap(buf, pos, 8).order(java.nio.ByteOrder.LITTLE_ENDIAN).getLong
      pos += 8; v
    }

    def fixed32(): Long = {
      val v = ByteBuffer.wrap(buf, pos, 4).order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt
      pos += 4; v.toLong & 0xFFFFFFFFL
    }

    def bytes(len: Int): Array[Byte] = {
      val out = java.util.Arrays.copyOfRange(buf, pos, pos + len)
      pos += len; out
    }

    def skip(wireType: Int): Unit = wireType match {
      case 0 => varint()
      case 1 => pos += 8
      case 2 => val n = varint().toInt; pos += n
      case 5 => pos += 4
      case w => throw new IllegalArgumentException(s"wire type $w")
    }

    /** Iterate fields of the message in [pos, end); cb(fieldNo, wireType). */
    def eachField(cb: (Int, Int, Reader) => Unit): Unit =
      while (hasMore) {
        val tag = varint()
        cb((tag >> 3).toInt, (tag & 7).toInt, this)
      }

    def subMessage(): Reader = {
      val len = varint().toInt
      val r = new Reader(buf, pos, pos + len)
      pos += len
      r
    }
  }

  private def delimited(buf: Array[Byte], off: Int, len: Int): Iterator[Reader] =
    new Iterator[Reader] {
      private val outer = new Reader(buf, off, off + len)
      def hasNext: Boolean = outer.hasMore
      def next(): Reader = outer.subMessage()
    }

  // ----------------------------------------------------------------- parse

  /** Reads the FileSummary from the image tail through the Hadoop
    * FileSystem API — the path resolves exactly like the executor-side
    * [[readRange]], so one path string serves local and DFS images. */
  def readSummary(path: String, conf: org.apache.hadoop.conf.Configuration): FileSummary = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(conf)
    val fileLen = fs.getFileStatus(p).getLen
    val in = fs.open(p)
    try {
      in.seek(fileLen - 4)
      val summaryLen = in.readInt()
      val blob = new Array[Byte](summaryLen)
      in.seek(fileLen - 4 - summaryLen)
      in.readFully(blob)
      parseSummaryBlob(blob)
    } finally in.close()
  }

  private def parseSummaryBlob(blob: Array[Byte]): FileSummary = {
    val outer = new Reader(blob, 0, blob.length)
    val msg = outer.subMessage() // writeDelimitedTo → varint length prefix
    var ondisk = 0; var layout = 0
    var codec: Option[String] = None
    val sections = Seq.newBuilder[Section]
    msg.eachField { (fn, wt, r) =>
      (fn, wt) match {
        case (1, 0) => ondisk = r.varint().toInt
        case (2, 0) => layout = r.varint().toInt
        case (3, 2) => codec = Some(new String(r.bytes(r.varint().toInt), "UTF-8"))
        case (4, 2) =>
          val s = r.subMessage()
          var name = ""; var len = 0L; var off = 0L
          s.eachField { (f, w, rr) =>
            (f, w) match {
              case (1, 2) => name = new String(rr.bytes(rr.varint().toInt), "UTF-8")
              case (2, 0) => len = rr.varint()
              case (3, 0) => off = rr.varint()
              case _      => rr.skip(w)
            }
          }
          sections += Section(name, len, off)
        case _ => r.skip(wt)
      }
    }
    FileSummary(ondisk, layout, codec, sections.result())
  }

  /** One whole section's on-disk bytes, read on the driver (same path
    * resolution as the executors'). */
  def readSection(path: String, s: Section,
                  conf: org.apache.hadoop.conf.Configuration): Array[Byte] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(conf)
    val in = fs.open(p)
    try {
      in.seek(s.offset)
      val out = new Array[Byte](java.lang.Math.toIntExact(s.length))
      in.readFully(out)
      out
    } finally in.close()
  }

  /** Supported compression codecs (FileSummary.codec). DefaultCodec is a
    * zlib stream (possibly several concatenated — Hadoop compressor
    * resets); inflate them all. */
  val ZlibCodec = "org.apache.hadoop.io.compress.DefaultCodec"

  def maybeDecompress(bytes: Array[Byte], codec: Option[String]): Array[Byte] =
    codec match {
      case None | Some("") => bytes
      case Some(ZlibCodec) =>
        val out = new java.io.ByteArrayOutputStream(math.max(bytes.length * 4, 1 << 16))
        val in = new ZlibConcatInputStream(new java.io.ByteArrayInputStream(bytes))
        val buf = new Array[Byte](1 << 16)
        var n = in.read(buf)
        while (n > 0) { out.write(buf, 0, n); n = in.read(buf) }
        in.close()
        out.toByteArray
      case Some(other) =>
        throw new UnsupportedOperationException(s"fsimage codec not supported: $other")
    }

  // ----------------------------------------------------- streaming plumbing

  /** Inflates a series of concatenated zlib streams (Hadoop's DefaultCodec
    * resets the compressor per buffer, producing back-to-back deflate
    * streams) with O(buffer) memory. */
  final class ZlibConcatInputStream(in: InputStream) extends InputStream {
    private val inBuf = new Array[Byte](1 << 16)
    private var inLen = 0
    private var inEof = false
    private var inf = new java.util.zip.Inflater()
    private var firstStream = true
    private val one = new Array[Byte](1)

    override def read(): Int = {
      val n = read(one, 0, 1)
      if (n < 0) -1 else one(0) & 0xFF
    }

    override def read(b: Array[Byte], off: Int, len: Int): Int = {
      if (len == 0) return 0
      while (true) {
        val n =
          try inf.inflate(b, off, len)
          catch {
            case e: java.util.zip.DataFormatException =>
              // bytes after the last complete stream that don't start a new
              // zlib stream are trailing padding — tolerated (images in the
              // wild carry it); corruption inside the first/current stream
              // still raises
              if (!firstStream && inf.getBytesWritten == 0) return -1
              throw new java.io.IOException("corrupt zlib section", e)
          }
        if (n > 0) return n
        if (inf.finished()) {
          val rem = inf.getRemaining
          inf.end()
          inf = new java.util.zip.Inflater()
          firstStream = false
          if (rem > 0) inf.setInput(inBuf, inLen - rem, rem)
          else {
            fill()
            if (inLen == 0) return -1
          }
        } else if (inf.needsInput()) {
          fill()
          if (inLen == 0) throw new java.io.EOFException(
            // EOF inside a stream = truncated section; a silent short read
            // would undercount inodes with no error
            "zlib stream truncated (compressed section ends mid-stream)")
        } else {
          return -1
        }
      }
      -1
    }

    private def fill(): Unit = {
      if (!inEof) {
        inLen = in.read(inBuf)
        if (inLen < 0) { inEof = true; inLen = 0 }
        else inf.setInput(inBuf, 0, inLen)
      } else inLen = 0
    }

    override def close(): Unit = { inf.end(); in.close() }
  }

  /** InputStream over at most `limit` bytes of `in`. */
  final class BoundedInputStream(in: InputStream, limit: Long) extends InputStream {
    private var left = limit
    private val one = new Array[Byte](1)
    override def read(): Int = { val n = read(one, 0, 1); if (n < 0) -1 else one(0) & 0xFF }
    override def read(b: Array[Byte], off: Int, len: Int): Int = {
      if (left <= 0) return -1
      val n = in.read(b, off, math.min(len.toLong, left).toInt)
      if (n > 0) left -= n
      n
    }
    override def close(): Unit = in.close()
  }

  /** Streaming view of one section's uncompressed bytes — O(buffer) memory
    * regardless of section size; the driver's pre-scans resolve the path
    * through the Hadoop FileSystem API like the executors do. */
  def sectionRawStream(path: String, s: Section, codec: Option[String],
                       conf: org.apache.hadoop.conf.Configuration): InputStream = {
    val p = new org.apache.hadoop.fs.Path(path)
    val in = p.getFileSystem(conf).open(p)
    in.seek(s.offset)
    wrapSection(new BoundedInputStream(in, s.length), codec)
  }

  private def wrapSection(bounded: InputStream, codec: Option[String]): InputStream =
    codec match {
      case None | Some("")   => bounded
      case Some(ZlibCodec)   => new ZlibConcatInputStream(bounded)
      case Some(other)       =>
        bounded.close()
        throw new UnsupportedOperationException(s"fsimage codec not supported: $other")
    }

  /** One streaming pass over a delimited section: returns message-aligned
    * chunk ranges of ~targetChunkBytes each, as offsets RELATIVE to the
    * (uncompressed) section start. Memory is O(read buffer) — this is the
    * driver's only look at the section; the bytes themselves are read again
    * only by the executor that owns each range. */
  def scanRanges(in: InputStream, dropHeader: Boolean,
                 targetChunkBytes: Long): Array[(Long, Long)] = {
    val buf = new Array[Byte](1 << 16)
    var bLen = 0; var bOff = 0
    var pos = 0L
    def readByte(): Int = {
      if (bOff >= bLen) { bLen = in.read(buf); bOff = 0; if (bLen <= 0) return -1 }
      val r = buf(bOff) & 0xFF; bOff += 1; pos += 1; r
    }
    def skipN(n: Long): Unit = {
      var leftToSkip = n
      while (leftToSkip > 0) {
        if (bOff >= bLen) {
          bLen = in.read(buf); bOff = 0
          if (bLen <= 0) throw new java.io.EOFException(s"truncated section at $pos")
        }
        val take = math.min(leftToSkip, (bLen - bOff).toLong).toInt
        bOff += take; pos += take; leftToSkip -= take
      }
    }
    val ranges = ArrayBuffer[(Long, Long)]()
    var chunkStart = -1L
    var isFirst = true
    var b = readByte()
    while (b >= 0) {
      val msgStart = pos - 1
      var len = (b & 0x7F).toLong; var shift = 7
      while ((b & 0x80) != 0) {
        b = readByte()
        if (b < 0) throw new java.io.EOFException(
          s"truncated varint at $pos") // EOF mid-varint must not spin
        len |= (b & 0x7FL) << shift; shift += 7
      }
      skipN(len)
      if (!(isFirst && dropHeader)) {
        if (chunkStart < 0) chunkStart = msgStart
        if (pos - chunkStart >= targetChunkBytes) {
          ranges += ((chunkStart, pos)); chunkStart = -1
        }
      }
      isFirst = false
      b = readByte()
    }
    if (chunkStart >= 0) ranges += ((chunkStart, pos))
    ranges.toArray
  }

  /** Executor-side ranged read through the Hadoop FileSystem API, so the
    * same code path serves local files (tests) and DFS paths (clusters).
    * `confEntries` carries the driver's Hadoop configuration (spark.hadoop.*
    * credentials, fs impls, kerberos) — a fresh default Configuration on an
    * executor would drop all of it and fail auth on real DFS paths. */
  def readRange(path: String, from: Long, len: Int,
                confEntries: Iterable[(String, String)] = Nil): Array[Byte] = {
    require(len >= 0, s"readRange: negative length $len (chunk > 2 GiB overflowed an Int?)")
    val p = new org.apache.hadoop.fs.Path(path)
    val conf =
      if (confEntries.isEmpty) new org.apache.hadoop.conf.Configuration()
      else {
        val c = new org.apache.hadoop.conf.Configuration(false)
        confEntries.foreach { case (k, v) => c.set(k, v) }
        c
      }
    val fs = p.getFileSystem(conf)
    val in = fs.open(p)
    try {
      in.seek(from)
      val out = new Array[Byte](len)
      in.readFully(out)
      out
    } finally in.close()
  }

  /** STRING_TABLE: header {numEntry=1, maskBits=2} then delimited entries
    * {id=1, str=2}. Hadoop 3 encodes the entry kind in the id's top bits
    * (id >>> 29: 1=user, 2=group); Hadoop 2 uses one flat table. */
  def parseStringTable(bytes: Array[Byte]): StringTables = {
    val it = delimited(bytes, 0, bytes.length)
    var maskBits = 0
    if (it.hasNext) it.next().eachField { (fn, wt, r) =>
      (fn, wt) match {
        case (2, 0) => maskBits = r.varint().toInt
        case _      => r.skip(wt)
      }
    }
    val users = Map.newBuilder[Long, String]
    val groups = Map.newBuilder[Long, String]
    val xattrs = Map.newBuilder[Long, String]
    val flat = Map.newBuilder[Long, String]
    it.foreach { m =>
      var id = 0L; var str = ""
      m.eachField { (fn, wt, r) =>
        (fn, wt) match {
          case (1, 0) => id = r.varint()
          case (2, 2) => str = new String(r.bytes(r.varint().toInt), "UTF-8")
          case _      => r.skip(wt)
        }
      }
      if (maskBits > 0) {
        // maskBits counts the TOP bits holding the entry kind (Hadoop 3
        // writes 3 → kind = id >>> 29); honor the header instead of
        // hardcoding 29 so images from a SerialNumberManager with a
        // different bit allocation still decode the right serials
        val shift = 32 - maskBits
        val serial = id & ((1L << shift) - 1)
        (id >>> shift) match {
          case 1 => users += serial -> str
          case 2 => groups += serial -> str
          case 3 => xattrs += serial -> str // SerialNumberManager.XATTR
          case _ => ()
        }
      } else flat += id -> str
    }
    StringTables(users.result(), groups.result(), xattrs.result(), flat.result(),
      typed = maskBits > 0)
  }

  /** Scans delimited-message boundaries without parsing bodies (in-memory
    * variant of [[scanRanges]], used by tests). */
  def messageOffsets(bytes: Array[Byte]): Array[Int] = {
    val out = Array.newBuilder[Int]
    val r = new Reader(bytes, 0, bytes.length)
    while (r.hasMore) {
      out += r.pos
      val len = r.varint().toInt
      r.pos += len
    }
    out.result()
  }

  /** Parses every whole delimited INode message in [from, to). The INODE
    * section is a header {lastInodeId=1, numInodes=2} then delimited INode
    * {type=1, id=2, name=3, file=4, directory=5, symlink=6}; a range
    * starts after the header. `policies` extends the built-in EC table
    * with the image's ERASURE_CODING section ([[parseErasureCoding]]) so
    * custom-policy files get the real consumed-size formula. */
  def parseInodeRange(bytes: Array[Byte], from: Int, to: Int,
                      policies: Map[Int, EcPolicy] = EcPoliciesById): Iterator[RawInode] =
    delimited(bytes, from, to - from).map(parseOneInode(_, policies))

  private val NoAcl = Array.empty[Int]
  private val NoXAttrNames = Array.empty[Int]
  private val NoXAttrValues = Array.empty[Array[Byte]]

  /** XAttrFeatureProto {xAttrs=1: repeated XAttrCompactProto {name=1
    * fixed32, value=2 bytes}} (INodeFile field 9, INodeDirectory field 6). */
  private def parseXAttrFeature(m: Reader, names: ArrayBuffer[Int],
                                values: ArrayBuffer[Array[Byte]]): Unit =
    m.eachField { (fn, wt, r) =>
      (fn, wt) match {
        case (1, 2) =>
          val e = r.subMessage()
          var nb = 0
          var v: Array[Byte] = Array.emptyByteArray
          e.eachField { (f, w, rr) =>
            (f, w) match {
              case (1, 5) => nb = rr.fixed32().toInt
              case (2, 2) => v = rr.bytes(rr.varint().toInt)
              case _      => rr.skip(w)
            }
          }
          names += nb
          values += v
        case _ => r.skip(wt)
      }
    }

  /** AclFeatureProto {entries=2: packed fixed32} (INodeFile field 8,
    * INodeDirectory field 5). */
  private def parseAclFeature(m: Reader, out: ArrayBuffer[Int]): Unit =
    m.eachField { (fn, wt, r) =>
      (fn, wt) match {
        case (2, 2) => // packed fixed32s
          val p = r.subMessage()
          while (p.hasMore) out += p.fixed32().toInt
        case (2, 5) => out += r.fixed32().toInt
        case _      => r.skip(wt)
      }
    }

  private def parseOneInode(m: Reader,
                            policies: Map[Int, EcPolicy] = EcPoliciesById): RawInode = {
      var typ = 0; var id = 0L; var name = ""
      var repl = 0; var mtime = 0L; var atime = 0L; var pbs = 0L
      var perm = 0L; var nBlocks = 0; var size = 0L
      var sp = 0; var ec = 0; var target = ""
      var nsq = -1L; var dsq = -1L
      var uc = false; var ucClient = ""; var ucMachine = ""
      var blockSizes: ArrayBuffer[Long] = null
      var acl: ArrayBuffer[Int] = null
      var xaN: ArrayBuffer[Int] = null
      var xaV: ArrayBuffer[Array[Byte]] = null
      def xattrBufs(): (ArrayBuffer[Int], ArrayBuffer[Array[Byte]]) = {
        if (xaN == null) { xaN = new ArrayBuffer[Int](2); xaV = new ArrayBuffer[Array[Byte]](2) }
        (xaN, xaV)
      }
      m.eachField { (fn, wt, r) =>
        (fn, wt) match {
          case (1, 0) => typ = r.varint().toInt
          case (2, 0) => id = r.varint()
          case (3, 2) => name = new String(r.bytes(r.varint().toInt), "UTF-8")
          case (4, 2) => // INodeFile
            val f = r.subMessage()
            f.eachField { (ff, fw, rr) =>
              (ff, fw) match {
                case (1, 0)  => repl = rr.varint().toInt
                case (2, 0)  => mtime = rr.varint()
                case (3, 0)  => atime = rr.varint()
                case (4, 0)  => pbs = rr.varint()
                case (5, 1)  => perm = rr.fixed64()
                case (6, 2)  => // BlockProto {blockId=1, genStamp=2, numBytes=3}
                  val b = rr.subMessage()
                  nBlocks += 1
                  var bytes = 0L
                  b.eachField { (bf, bw, br) =>
                    (bf, bw) match {
                      case (3, 0) => bytes = br.varint()
                      case _      => br.skip(bw)
                    }
                  }
                  size += bytes
                  if (blockSizes == null) blockSizes = new ArrayBuffer[Long](4)
                  blockSizes += bytes
                case (7, 2)  => // FileUnderConstructionFeature {clientName=1, clientMachine=2}
                  uc = true
                  val u = rr.subMessage()
                  u.eachField { (uf, uw, ur) =>
                    (uf, uw) match {
                      case (1, 2) => ucClient = new String(ur.bytes(ur.varint().toInt), "UTF-8")
                      case (2, 2) => ucMachine = new String(ur.bytes(ur.varint().toInt), "UTF-8")
                      case _      => ur.skip(uw)
                    }
                  }
                case (8, 2)  =>
                  if (acl == null) acl = new ArrayBuffer[Int](4)
                  parseAclFeature(rr.subMessage(), acl)
                case (9, 2)  =>
                  val (n, v) = xattrBufs()
                  parseXAttrFeature(rr.subMessage(), n, v)
                case (10, 0) => sp = rr.varint().toInt
                case (12, 0) => ec = rr.varint().toInt
                case _       => rr.skip(fw)
              }
            }
          case (5, 2) => // INodeDirectory {modificationTime=1, ..., permission=4, acl=5, xAttrs=6}
            val d = r.subMessage()
            d.eachField { (df, dw, rr) =>
              (df, dw) match {
                case (1, 0) => mtime = rr.varint()
                case (2, 0) => nsq = rr.varint()
                case (3, 0) => dsq = rr.varint()
                case (4, 1) => perm = rr.fixed64()
                case (5, 2) =>
                  if (acl == null) acl = new ArrayBuffer[Int](4)
                  parseAclFeature(rr.subMessage(), acl)
                case (6, 2) =>
                  val (n, v) = xattrBufs()
                  parseXAttrFeature(rr.subMessage(), n, v)
                case _      => rr.skip(dw)
              }
            }
          case (6, 2) => // INodeSymlink {permission=1, target=2, mtime=3, atime=4}
            val s = r.subMessage()
            s.eachField { (sf, sw, rr) =>
              (sf, sw) match {
                case (1, 1) => perm = rr.fixed64()
                case (2, 2) => target = new String(rr.bytes(rr.varint().toInt), "UTF-8")
                case (3, 0) => mtime = rr.varint()
                case (4, 0) => atime = rr.varint()
                case _      => rr.skip(sw)
              }
            }
          case _ => r.skip(wt)
        }
      }
      // Consumed size — reference FsUtil.getConsumedFileSize semantics
      // (FsUtil.java:122-135): EC files use the cells/rows/parity formula
      // per block; replicated files use Σblock × replication.
      val consumed =
        if (typ != 1) 0L
        else if (ec > 0) policies.get(ec) match {
          case Some(p) =>
            var c = 0L
            if (blockSizes != null) blockSizes.foreach(b => c += ecBlockConsumed(b, p))
            c
          // custom/unknown EC policy (ids >= 64 are legal): parity overhead
          // unknown — report the data bytes, never size * repl (EC files
          // carry repl = 0, which would silently zero the column)
          case None => size
        }
        else size * repl
      RawInode(id, typ, name, repl, mtime, atime, pbs, perm, nBlocks, size,
        consumed, sp, ec, target, if (acl == null) NoAcl else acl.toArray,
        if (xaN == null) NoXAttrNames else xaN.toArray,
        if (xaV == null) NoXAttrValues else xaV.toArray, nsq, dsq,
        uc, ucClient, ucMachine)
  }

  /** Parses every whole delimited DirEntry message in [from, to) of the
    * INODE_DIR section: delimited DirEntry {parent=1, children=2 packed}. */
  def parseDirRange(bytes: Array[Byte], from: Int, to: Int): Iterator[DirEntry] =
    delimited(bytes, from, to - from).map(parseOneDirEntry)

  private def parseOneDirEntry(m: Reader): DirEntry = {
      var parent = 0L
      val children = Array.newBuilder[Long]
      m.eachField { (fn, wt, r) =>
        (fn, wt) match {
          case (1, 0) => parent = r.varint()
          case (2, 2) => // packed varints
            val p = r.subMessage()
            while (p.hasMore) children += p.varint()
          case (2, 0) => children += r.varint()
          case _      => r.skip(wt)
        }
      }
      DirEntry(parent, children.result())
    }

  // ------------------------------------------------------------- snapshots

  final case class SnapshotInfo(snapshotId: Int, name: String, rootId: Long)
  final case class SnapshotSection(snapshotCounter: Int,
                                   snapshottableDirs: Array[Long],
                                   snapshots: Seq[SnapshotInfo])

  /** SNAPSHOT section (public fsimage.proto SnapshotSection): a delimited
    * header {snapshotCounter=1, snapshottableDir=2 packed, numSnapshots=3}
    * followed by one delimited Snapshot {snapshotId=1, root=2: INode} per
    * snapshot — the root is a frozen copy of the snapshotted directory
    * whose `name` is the snapshot's name. */
  def parseSnapshots(bytes: Array[Byte]): SnapshotSection = {
    val it = delimited(bytes, 0, bytes.length)
    var counter = 0
    val dirs = Array.newBuilder[Long]
    if (it.hasNext) it.next().eachField { (fn, wt, r) =>
      (fn, wt) match {
        case (1, 0) => counter = r.varint().toInt
        case (2, 2) => val p = r.subMessage(); while (p.hasMore) dirs += p.varint()
        case (2, 0) => dirs += r.varint()
        case _      => r.skip(wt)
      }
    }
    val snaps = it.map { m =>
      var sid = 0
      var root: RawInode = null
      m.eachField { (fn, wt, r) =>
        (fn, wt) match {
          case (1, 0) => sid = r.varint().toInt
          case (2, 2) => root = parseOneInode(r.subMessage())
          case _      => r.skip(wt)
        }
      }
      SnapshotInfo(sid, if (root == null) "" else root.name,
        if (root == null) 0L else root.id)
    }.toVector
    SnapshotSection(counter, dirs.result(), snaps)
  }

  // ------------------------------------------------------- inode references

  final case class InodeReference(referredId: Long, name: String,
                                  dstSnapshotId: Int, lastSnapshotId: Int)

  /** INODE_REFERENCE section (public fsimage.proto INodeReferenceSection):
    * delimited INodeReference {referredId=1, name=2 bytes, dstSnapshotId=3,
    * lastSnapshotId=4} — the indirection nodes Hadoop records when an
    * inode is renamed across a snapshot boundary, keeping it reachable
    * under both the snapshot path (with-name, lastSnapshotId set) and the
    * live destination path (dst-reference, dstSnapshotId set). */
  def parseInodeReferences(bytes: Array[Byte]): Seq[InodeReference] =
    delimited(bytes, 0, bytes.length).map { m =>
      var rid = 0L; var name = ""; var dst = -1; var last = -1
      m.eachField { (fn, wt, r) =>
        (fn, wt) match {
          case (1, 0) => rid = r.varint()
          case (2, 2) => name = new String(r.bytes(r.varint().toInt), "UTF-8")
          case (3, 0) => dst = r.varint().toInt
          case (4, 0) => last = r.varint().toInt
          case _      => r.skip(wt)
        }
      }
      InodeReference(rid, name, dst, last)
    }.toVector

  // --------------------------------------------------- files under construction

  final case class FileUc(inodeId: Long, fullPath: String)

  /** FILES_UNDERCONSTRUCTION section (public fsimage.proto
    * FilesUnderConstructionSection): delimited FileUnderConstructionEntry
    * {inodeId=1, fullPath=2} — one row per file with an open lease at
    * image time, full path pre-resolved by the namenode. Pairs with the
    * per-inode FileUnderConstructionFeature (client name/machine) for the
    * `hdfs dfsadmin -listOpenFiles` readout. The reference drops this
    * section (FsImageLoader.java loads only string/inode/dir). */
  def parseFilesUnderConstruction(bytes: Array[Byte]): Seq[FileUc] =
    delimited(bytes, 0, bytes.length).map { m =>
      var id = 0L; var path = ""
      m.eachField { (fn, wt, r) =>
        (fn, wt) match {
          case (1, 0) => id = r.varint()
          case (2, 2) => path = new String(r.bytes(r.varint().toInt), "UTF-8")
          case _      => r.skip(wt)
        }
      }
      FileUc(id, path)
    }.toVector

  // ----------------------------------------------------------- cache manager

  final case class CachePool(name: String, owner: String, group: String,
                             mode: Int, limit: Long, maxRelativeExpiryMs: Long,
                             defaultReplication: Int)
  final case class CacheDirective(id: Long, path: String, replication: Int,
                                  pool: String, expiryMs: Long,
                                  expiryRelative: Boolean)
  final case class CacheManagerSection(nextDirectiveId: Long,
                                       pools: Seq[CachePool],
                                       directives: Seq[CacheDirective])

  /** CACHE_MANAGER section (public fsimage.proto CacheManagerSection +
    * ClientNamenodeProtocol.proto pool/directive protos): a delimited
    * header {nextDirectiveId=1, numPools=2, numDirectives=3} followed by
    * numPools delimited CachePoolInfoProto {poolName=1, ownerName=2,
    * groupName=3, mode=4, limit=5, maxRelativeExpiry=6,
    * defaultReplication=7} and numDirectives delimited
    * CacheDirectiveInfoProto {id=1, path=2, replication=3, pool=4,
    * expiration=5 {millis=1, isRelative=2}} — the centralized-cache
    * state behind `hdfs cacheadmin -listPools/-listDirectives`. The
    * reference drops this section too (FsImageLoader.java loads only
    * string/inode/dir). */
  def parseCacheManager(bytes: Array[Byte]): CacheManagerSection = {
    val it = delimited(bytes, 0, bytes.length)
    var nextId = 0L; var nPools = 0; var nDirs = 0
    if (it.hasNext) it.next().eachField { (fn, wt, r) =>
      (fn, wt) match {
        case (1, 0) => nextId = r.varint()
        case (2, 0) => nPools = r.varint().toInt
        case (3, 0) => nDirs = r.varint().toInt
        case _      => r.skip(wt)
      }
    }
    val pools = Seq.newBuilder[CachePool]
    var k = 0
    while (k < nPools && it.hasNext) {
      val m = it.next()
      var name = ""; var owner = ""; var group = ""
      var mode = 0; var limit = 0L; var maxRel = 0L; var defRepl = 1
      m.eachField { (fn, wt, r) =>
        (fn, wt) match {
          case (1, 2) => name = new String(r.bytes(r.varint().toInt), "UTF-8")
          case (2, 2) => owner = new String(r.bytes(r.varint().toInt), "UTF-8")
          case (3, 2) => group = new String(r.bytes(r.varint().toInt), "UTF-8")
          case (4, 0) => mode = r.varint().toInt
          case (5, 0) => limit = r.varint()
          case (6, 0) => maxRel = r.varint()
          case (7, 0) => defRepl = r.varint().toInt
          case _      => r.skip(wt)
        }
      }
      pools += CachePool(name, owner, group, mode, limit, maxRel, defRepl)
      k += 1
    }
    val dirs = Seq.newBuilder[CacheDirective]
    k = 0
    while (k < nDirs && it.hasNext) {
      val m = it.next()
      var id = 0L; var path = ""; var repl = 1; var pool = ""
      var expMs = 0L; var expRel = false
      m.eachField { (fn, wt, r) =>
        (fn, wt) match {
          case (1, 0) => id = r.varint()
          case (2, 2) => path = new String(r.bytes(r.varint().toInt), "UTF-8")
          case (3, 0) => repl = r.varint().toInt
          case (4, 2) => pool = new String(r.bytes(r.varint().toInt), "UTF-8")
          case (5, 2) =>
            val e = r.subMessage()
            e.eachField { (ef, ew, er) =>
              (ef, ew) match {
                case (1, 0) => expMs = er.varint()
                case (2, 0) => expRel = er.varint() != 0
                case _      => er.skip(ew)
              }
            }
          case _ => r.skip(wt)
        }
      }
      dirs += CacheDirective(id, path, repl, pool, expMs, expRel)
      k += 1
    }
    CacheManagerSection(nextId, pools.result(), dirs.result())
  }

  // ---------------------------------------------------------- secret manager

  final case class DelegationKey(id: Int, expiryMs: Long, keyLen: Int)
  final case class PersistToken(version: Int, owner: String, renewer: String,
                                realUser: String, issueMs: Long, maxMs: Long,
                                sequenceNumber: Int, masterKeyId: Int,
                                expiryMs: Long)
  final case class SecretManagerSection(currentId: Int,
                                        tokenSequenceNumber: Int,
                                        keys: Seq[DelegationKey],
                                        tokens: Seq[PersistToken])

  /** SECRET_MANAGER section (public fsimage.proto SecretManagerSection):
    * a delimited header {currentId=1, tokenSequenceNumber=2, numKeys=3,
    * numTokens=4} followed by numKeys delimited DelegationKey {id=1,
    * expiryDate=2, key=3} and numTokens delimited PersistToken
    * {version=1, owner=2, renewer=3, realUser=4, issueDate=5, maxDate=6,
    * sequenceNumber=7, masterKeyId=8, expiryDate=9} — the
    * delegation-token state behind the "which tokens outlive their
    * master keys" security audit. Key MATERIAL is deliberately not
    * surfaced, only its byte length: no readout needs secret bytes, and
    * an analytics export must not become a credential copy. The last
    * fsimage section this repo inventoried without decoding; the
    * reference drops it entirely (FsImageLoader.java loads only
    * string/inode/dir sections). */
  def parseSecretManager(bytes: Array[Byte]): SecretManagerSection = {
    val it = delimited(bytes, 0, bytes.length)
    var curId = 0; var tokSeq = 0; var nKeys = 0; var nTokens = 0
    if (it.hasNext) it.next().eachField { (fn, wt, r) =>
      (fn, wt) match {
        case (1, 0) => curId = r.varint().toInt
        case (2, 0) => tokSeq = r.varint().toInt
        case (3, 0) => nKeys = r.varint().toInt
        case (4, 0) => nTokens = r.varint().toInt
        case _      => r.skip(wt)
      }
    }
    val keys = Seq.newBuilder[DelegationKey]
    var k = 0
    while (k < nKeys && it.hasNext) {
      val m = it.next()
      var id = 0; var exp = 0L; var klen = 0
      m.eachField { (fn, wt, r) =>
        (fn, wt) match {
          case (1, 0) => id = r.varint().toInt
          case (2, 0) => exp = r.varint()
          case (3, 2) => klen = { val n = r.varint().toInt; r.bytes(n); n }
          case _      => r.skip(wt)
        }
      }
      keys += DelegationKey(id, exp, klen)
      k += 1
    }
    val toks = Seq.newBuilder[PersistToken]
    k = 0
    while (k < nTokens && it.hasNext) {
      val m = it.next()
      var ver = 0; var owner = ""; var renewer = ""; var real = ""
      var issue = 0L; var maxMs = 0L; var seq = 0; var mkid = 0; var exp = 0L
      m.eachField { (fn, wt, r) =>
        (fn, wt) match {
          case (1, 0) => ver = r.varint().toInt
          case (2, 2) => owner = new String(r.bytes(r.varint().toInt), "UTF-8")
          case (3, 2) => renewer = new String(r.bytes(r.varint().toInt), "UTF-8")
          case (4, 2) => real = new String(r.bytes(r.varint().toInt), "UTF-8")
          case (5, 0) => issue = r.varint()
          case (6, 0) => maxMs = r.varint()
          case (7, 0) => seq = r.varint().toInt
          case (8, 0) => mkid = r.varint().toInt
          case (9, 0) => exp = r.varint()
          case _      => r.skip(wt)
        }
      }
      toks += PersistToken(ver, owner, renewer, real, issue, maxMs, seq, mkid, exp)
      k += 1
    }
    SecretManagerSection(curId, tokSeq, keys.result(), toks.result())
  }

  // --------------------------------------------------------- snapshot diffs

  final case class SnapshotDiff(inodeId: Long, diffType: String,
                                snapshotId: Int, fileSize: Long, name: String,
                                nCreated: Int, nDeleted: Int)

  /** SNAPSHOT_DIFF section (public fsimage.proto SnapshotDiffSection):
    * a stream of delimited DiffEntry {type=1 (1=file, 2=dir), inodeId=2,
    * numOfDiff=3} headers, each followed by its numOfDiff delimited
    * FileDiff {snapshotId=1, fileSize=2, name=3, …} or DirectoryDiff
    * {snapshotId=1, …, name=4, createdListSize=6, deletedINode=7 packed,
    * deletedINodeRef=8 packed} messages — and each DirectoryDiff by its
    * createdListSize delimited CreatedListEntry messages (Hadoop
    * FSImageFormatPBSnapshot.serializeSnapshotDiffSection's exact
    * stream shape). Diffs record what changed between a snapshot and the
    * next state: per-snapshot file length for files, created/deleted
    * child sets for directories. */
  def parseSnapshotDiffs(bytes: Array[Byte]): Seq[SnapshotDiff] = {
    val it = delimited(bytes, 0, bytes.length)
    val out = Vector.newBuilder[SnapshotDiff]
    while (it.hasNext) {
      val e = it.next()
      var typ = 0; var id = 0L; var n = 0
      e.eachField { (fn, wt, r) =>
        (fn, wt) match {
          case (1, 0) => typ = r.varint().toInt
          case (2, 0) => id = r.varint()
          case (3, 0) => n = r.varint().toInt
          case _      => r.skip(wt)
        }
      }
      var k = 0
      while (k < n && it.hasNext) {
        val d = it.next()
        if (typ == 1) { // FileDiff
          var sid = 0; var fsz = 0L; var nm = ""
          d.eachField { (fn, wt, r) =>
            (fn, wt) match {
              case (1, 0) => sid = r.varint().toInt
              case (2, 0) => fsz = r.varint()
              case (3, 2) => nm = new String(r.bytes(r.varint().toInt), "UTF-8")
              case _      => r.skip(wt)
            }
          }
          out += SnapshotDiff(id, "F", sid, fsz, nm, 0, 0)
        } else if (typ == 2) { // DirectoryDiff
          var sid = 0; var nm = ""; var created = 0; var deleted = 0
          d.eachField { (fn, wt, r) =>
            (fn, wt) match {
              case (1, 0) => sid = r.varint().toInt
              case (4, 2) => nm = new String(r.bytes(r.varint().toInt), "UTF-8")
              case (6, 0) => created = r.varint().toInt
              case (7, 2) => val p = r.subMessage(); while (p.hasMore) { p.varint(); deleted += 1 }
              case (7, 0) => r.varint(); deleted += 1
              case (8, 2) => val p = r.subMessage(); while (p.hasMore) { p.varint(); deleted += 1 }
              case (8, 0) => r.varint(); deleted += 1
              case _      => r.skip(wt)
            }
          }
          // consume the trailing CreatedListEntry stream
          var c = 0
          while (c < created && it.hasNext) { it.next(); c += 1 }
          out += SnapshotDiff(id, "D", sid, 0L, nm, created, deleted)
        } else {
          // fail fast: a diff stream with an unknown entry type cannot be
          // advanced safely (message framing depends on the type)
          throw new IllegalArgumentException(
            s"SnapshotDiff DiffEntry type $typ for inode $id (expected 1=file, 2=dir)")
        }
        k += 1
      }
    }
    out.result()
  }

  /** Permission fixed64 layout (Hadoop PermissionStatusFormat):
    * user serial «40 | group serial «16 | mode (16 bits). */
  def permMode(perm: Long): Int = (perm & 0xFFFF).toInt
  def permGroupSerial(perm: Long): Long = (perm >>> 16) & 0xFFFFFF
  def permUserSerial(perm: Long): Long = perm >>> 40
}
