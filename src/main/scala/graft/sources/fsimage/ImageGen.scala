package graft.sources.fsimage

import java.io.{ByteArrayOutputStream, DataOutputStream, FileOutputStream, OutputStream}

/** Synthetic fsimage writer — the engine's counterpart of the reference's
  * `fsimage-generator` module (reference fsimage-generator/README.md): it
  * emits the same wire format the parser reads (magic, INODE / INODE_DIR /
  * STRING_TABLE sections, tail FileSummary + 4-byte length), determinstic
  * content keyed only by the requested counts.
  *
  * Beyond the reference's generator it can emit erasure-coded files
  * (`ecEvery`), ACL features on files and dirs (`aclEvery`), XAttr
  * features incl. string-table name entries (`xattrEvery`), symlinks,
  * access times and storage-policy ids — the features the parser and the
  * EC/ACL/XAttr specs need ground truth for.
  */
object ImageGen {

  final case class GenSpec(nDirs: Int, nFiles: Int,
                           ecEvery: Int = 0,    // every k-th file is RS-6-3-1024k
                           aclEvery: Int = 0,   // every k-th file carries 2 ACL entries
                           xattrEvery: Int = 0, // every k-th file carries 2 XAttr entries
                           nSymlinks: Int = 0,
                           nSnapshots: Int = 0, // snapshots of dir_0 (SNAPSHOT section)
                           nRefs: Int = 0,      // snapshot-rename INODE_REFERENCE rows
                           withAtime: Boolean = false,
                           quotaEvery: Int = 0, // every k-th dir gets ns/ds quotas
                           chainDirs: Int = 0,  // first k dirs nest root→d0→d1→…
                           permVariety: Boolean = false, // 0666/0600 modes mixed in
                           nDiffs: Int = 0,     // SNAPSHOT_DIFF entries (alternating file/dir)
                           ucEvery: Int = 0,    // every k-th file is under construction
                           nCachePools: Int = 0,      // CACHE_MANAGER pools
                           nCacheDirectives: Int = 0, // CACHE_MANAGER directives
                           // EC files use a CUSTOM policy (id 64, RS 4+2,
                           // 256 KiB cells) declared via an
                           // ERASURE_CODING section, name omitted so the
                           // reader must derive it
                           ecCustom: Boolean = false,
                           nDelegationKeys: Int = 0,   // SECRET_MANAGER keys
                           nDelegationTokens: Int = 0, // …and tokens
                           // every k-th file is 1 KiB larger than the
                           // base recipe: generating a SECOND image with
                           // this set yields exact "modified" ground
                           // truth for the namespace-diff soak (same
                           // path, different size)
                           sizeShiftEvery: Int = 0,
                           // every section a zlib stream, FileSummary
                           // codec = DefaultCodec (Hadoop's
                           // dfs.image.compress)
                           zlib: Boolean = false)

  /** SECRET_MANAGER ground truth: master key `keyId` (1-based) expires
    * at a staggered per-key day boundary. */
  def secretKeyExpiry(keyId: Int): Long =
    1800000000000L + (keyId - 1) * 86400000L

  /** SECRET_MANAGER ground truth: token `t` signs with key
    * 1 + t % (nKeys + 1); even t expire one second BEFORE that key, odd
    * t OUTLIVE it by an hour, and tokens whose computed key id exceeds
    * nKeys (the missing-key audit case) carry a base stamp. */
  def secretTokenExpiry(t: Int, nKeys: Int): Long = {
    val mkid = 1 + t % (nKeys + 1)
    if (mkid > nKeys) 1800000000000L + t * 1000L
    else if (t % 2 == 0) secretKeyExpiry(mkid) - 1000L
    else secretKeyExpiry(mkid) + 3600000L
  }

  /** Ground truth the generator guarantees, for specs to assert against. */
  final case class GenSummary(sumFileSize: Long, sumConsumed: Long,
                              nEcFiles: Int, nAclFiles: Int, nSymlinks: Int,
                              nXattrFiles: Int, nUcFiles: Int = 0)

  private val RootId = 16385L
  /** Serial of the ACL-named user added to the string table. */
  private val AclUserSerial = 21L
  val AclUserName = "acl_named_user"
  /** XAttr name serials added to the string table (kind 3 entries). */
  val XAttrNameSerials: Seq[(Long, String)] = Seq(1L -> "policy", 2L -> "origin")

  /** Byte-counting pass-through — section lengths/offsets for the tail
    * FileSummary without buffering a section in memory. */
  private class CountingStream(sink: OutputStream) extends OutputStream {
    var count = 0L
    override def write(b: Int): Unit = { sink.write(b); count += 1 }
    override def write(b: Array[Byte], off: Int, len: Int): Unit = {
      sink.write(b, off, len); count += len
    }
  }

  /** Protobuf wire writer. Top-level (section) writers stream straight to
    * the image file — O(1) generator memory at any inode count; only the
    * small per-message inner writers buffer (a message body needs its
    * length before its bytes). */
  private class W(val out: OutputStream = new ByteArrayOutputStream()) {
    private def inner(f: W => Unit): Array[Byte] = {
      val i = new W(); f(i); i.out.asInstanceOf[ByteArrayOutputStream].toByteArray
    }
    def varint(v0: Long): W = {
      var v = v0
      while ((v & ~0x7FL) != 0) { out.write(((v & 0x7F) | 0x80).toInt); v >>>= 7 }
      out.write(v.toInt); this
    }
    def tag(field: Int, wt: Int): W = varint((field << 3) | wt)
    def fixed64(v: Long): W = {
      (0 until 8).foreach(i => out.write(((v >>> (8 * i)) & 0xFF).toInt)); this
    }
    def fixed32(v: Int): W = {
      (0 until 4).foreach(i => out.write(((v >>> (8 * i)) & 0xFF).toInt)); this
    }
    def bytes(field: Int, b: Array[Byte]): W = { tag(field, 2); varint(b.length); out.write(b); this }
    def str(field: Int, s: String): W = bytes(field, s.getBytes("UTF-8"))
    def msg(field: Int)(f: W => Unit): W = bytes(field, inner(f))
    def delimited(f: W => Unit): W = {
      val b = inner(f)
      varint(b.length); out.write(b); this
    }
  }

  /** Encodes one ACL entry in the fsimage fixed32 layout (perm bits 0-2,
    * type bits 3-4, scope bit 5, name id bits 6-29). */
  def aclEntry(perm: Int, typ: Int, scope: Int, nameSerial: Int): Int =
    (nameSerial << 6) | (scope << 5) | (typ << 3) | perm

  /** Encodes one XAttr name in the fsimage fixed32 layout (namespace bits
    * 30-31 + ext bit 5, name string-id bits 6-29 — Hadoop XAttrFormat). */
  def xattrName(namespace: Int, nameSerial: Int): Int =
    ((namespace & 3) << 30) | (((namespace >> 2) & 1) << 5) | (nameSerial << 6)

  /** Back-compat entry point: plain replicated-file tree. Returns Σ size. */
  def write(path: String, nDirs: Int, nFiles: Int): Long =
    write(path, GenSpec(nDirs, nFiles)).sumFileSize

  def write(path: String, spec: GenSpec): GenSummary = {
    import spec._
    val ec =
      if (ecCustom) FsImageFormat.EcPolicy(64, "RS-4-2-256k", 4, 2, 256L << 10)
      else FsImageFormat.EcPoliciesById(1) // RS-6-3-1024k
    // ids are computed, never materialized: a 10⁸-inode generation must
    // not hold 10⁸ boxed longs (or a grouped edge list) on the heap
    def dirId(i: Int): Long = RootId + 1 + i
    def fileId(i: Int): Long = RootId + 1 + nDirs + i
    def linkId(i: Int): Long = RootId + 1 + nDirs + nFiles + i

    def perm(user: Long, group: Long, mode: Int): Long =
      (user << 40) | (group << 16) | mode

    // entries: named user rwx (access) + default group r-x
    val aclEntries = Seq(
      aclEntry(perm = 7, typ = 0, scope = 0, nameSerial = AclUserSerial.toInt),
      aclEntry(perm = 5, typ = 1, scope = 1, nameSerial = 0))

    // xattr entries: user.policy=<per-file bytes> + raw.origin=<empty> —
    // the raw namespace exercises the extension bit of the name layout
    def xattrPairs(i: Int): Seq[(Int, Array[Byte])] = Seq(
      xattrName(namespace = 0, nameSerial = 1) -> s"v$i".getBytes("UTF-8"),
      xattrName(namespace = 4, nameSerial = 2) -> Array.emptyByteArray)
    def writeXattrs(w: W, field: Int, i: Int): Unit =
      w.msg(field)(x => xattrPairs(i).foreach { case (nb, v) =>
        x.msg(1) { e =>
          e.tag(1, 5).fixed32(nb)
          if (v.nonEmpty) e.bytes(2, v)
        }
      })

    // The image streams to disk section by section (sections land in the
    // file in exactly the order they're generated); the tail FileSummary
    // needs only the (name, length, offset) triples.
    val fos = new FileOutputStream(path)
    val buf = new java.io.BufferedOutputStream(fos, 1 << 20)
    buf.write("HDFSIMG1".getBytes("ASCII"))
    var offset = 8L
    val located = Seq.newBuilder[(String, Long, Long)]
    def section(name: String)(f: W => Unit): Unit = {
      val cs = new CountingStream(buf)
      if (zlib) {
        val deflater = new java.util.zip.Deflater()
        val z = new java.util.zip.DeflaterOutputStream(cs, deflater, 1 << 16)
        f(new W(z)); z.finish(); deflater.end()
      } else f(new W(cs))
      located += ((name, cs.count, offset))
      offset += cs.count
    }

    var sumSize = 0L
    var sumConsumed = 0L
    var nEc = 0
    var nAcl = 0
    var nXattr = 0
    var nUc = 0
    // full path of file i, matching the INODE_DIR round-robin layout below
    // (and the chain nesting for the first `chainDirs` dirs) — the
    // namenode writes the RESOLVED path into FILES_UNDERCONSTRUCTION, so
    // the generator's entries must agree with the tree it emits
    val chainForPath = math.min(math.max(chainDirs, 0), nDirs)
    def dirPath(d: Int): String =
      if (d < chainForPath) (0 to d).map(j => s"dir_$j").mkString("/", "/", "")
      else s"/dir_$d"
    def filePath(i: Int): String =
      if (nDirs > 0) s"${dirPath(i % nDirs)}/f_$i.dat" else s"/f_$i.dat"
    def isUc(i: Int): Boolean = ucEvery > 0 && i % ucEvery == 0
    val ucClientOf = (i: Int) => s"DFSClient_NONMAPREDUCE_${1000000 + i}_1"
    val ucMachineOf = (i: Int) => s"worker-${i % 40}.example.com"

    section("INODE") { inodes =>
    inodes.delimited { h =>
      h.tag(1, 0).varint(RootId + nDirs + nFiles + nSymlinks)
      h.tag(2, 0).varint(1 + nDirs + nFiles + nSymlinks)
    }
    inodes.delimited { m =>
      m.tag(1, 0).varint(2); m.tag(2, 0).varint(RootId); m.str(3, "")
      m.msg(5)(d => { d.tag(1, 0).varint(1700000000000L); d.tag(4, 1).fixed64(perm(1, 1, 0x1ED)) })
    }
    (0 until nDirs).foreach { i =>
      val id = dirId(i)
      inodes.delimited { m =>
        m.tag(1, 0).varint(2); m.tag(2, 0).varint(id); m.str(3, s"dir_$i")
        m.msg(5) { d =>
          d.tag(1, 0).varint(1700000000000L + i)
          // Hadoop writes quotas on EVERY dir (-1 = no quota); the k-th
          // dirs get real limits for the quota report specs
          val hasQuota = quotaEvery > 0 && i % quotaEvery == 0
          d.tag(2, 0).varint(if (hasQuota) 1000L + i else -1L)
          d.tag(3, 0).varint(if (hasQuota) (1L << 30) + i else -1L)
          d.tag(4, 1).fixed64(perm(1 + i % 20, 1 + i % 10, 0x1ED))
          // first dir gets the ACL feature too (INodeDirectory field 5)
          if (aclEvery > 0 && i == 0)
            d.msg(5)(a => a.msg(2)(p => aclEntries.foreach(e => p.fixed32(e))))
          // ...and the first dir gets XAttrs (INodeDirectory field 6)
          if (xattrEvery > 0 && i == 0) writeXattrs(d, 6, i)
        }
      }
    }
    (0 until nFiles).foreach { i =>
      val id = fileId(i)
      val size = 1024L * (1 + i % 3000) +
        (if (sizeShiftEvery > 0 && i % sizeShiftEvery == 0) 1024L else 0L)
      val isEc = ecEvery > 0 && i % ecEvery == 0
      val hasAcl = aclEvery > 0 && i % aclEvery == 0
      val hasXattr = xattrEvery > 0 && i % xattrEvery == 0
      val repl = 1 + i % 3
      sumSize += size
      sumConsumed += (if (isEc) FsImageFormat.ecBlockConsumed(size, ec) else size * repl)
      if (isEc) nEc += 1
      if (hasAcl) nAcl += 1
      if (hasXattr) nXattr += 1
      inodes.delimited { m =>
        m.tag(1, 0).varint(1); m.tag(2, 0).varint(id); m.str(3, s"f_$i.dat")
        m.msg(4) { f =>
          if (!isEc) f.tag(1, 0).varint(repl) // EC files carry no replication
          f.tag(2, 0).varint(1700000000000L + i)
          f.tag(4, 0).varint(128L << 20) // preferredBlockSize
          if (withAtime) f.tag(3, 0).varint(1710000000000L + i * 1000L)
          val mode =
            if (permVariety && i % 7 == 0) 0x1B6       // 0666 world-writable
            else if (permVariety && i % 11 == 0) 0x180 // 0600 owner-only
            else 0x1A4                                 // 0644
          f.tag(5, 1).fixed64(perm(1 + i % 20, 1 + i % 10, mode))
          f.msg(6)(b => { b.tag(1, 0).varint(id); b.tag(2, 0).varint(1); b.tag(3, 0).varint(size) })
          // FileUnderConstructionFeature (INodeFile field 7): open lease
          if (isUc(i)) {
            nUc += 1
            f.msg(7)(u => { u.str(1, ucClientOf(i)); u.str(2, ucMachineOf(i)) })
          }
          if (hasAcl) f.msg(8)(a => a.msg(2)(p => aclEntries.foreach(e => p.fixed32(e))))
          if (hasXattr) writeXattrs(f, 9, i)
          if (withAtime) f.tag(10, 0).varint(5 + i % 2) // storage policy id
          if (isEc) f.tag(12, 0).varint(ec.id)
        }
      }
    }
    (0 until nSymlinks).foreach { i =>
      val id = linkId(i)
      inodes.delimited { m =>
        m.tag(1, 0).varint(3); m.tag(2, 0).varint(id); m.str(3, s"link_$i")
        m.msg(6) { s =>
          s.tag(1, 1).fixed64(perm(1 + i % 20, 1 + i % 10, 0x1FF))
          s.str(2, s"/dir_${i % math.max(nDirs, 1)}/f_$i.dat")
          s.tag(3, 0).varint(1700000000000L + i * 1000L)
          s.tag(4, 0).varint(1710000000000L + i * 1000L)
        }
      }
    }
    } // section INODE

    // Directory edges: the first `chainDirs` dirs nest as a chain
    // root→dir_0→dir_1→… (deep-path coverage for the resolver); the rest
    // plus all symlinks hang off root.
    val chain = math.min(math.max(chainDirs, 0), nDirs)
    section("INODE_DIR") { dirSection =>
    dirSection.delimited { m =>
      m.tag(1, 0).varint(RootId)
      m.msg(2) { p =>
        if (nDirs > 0) {
          p.varint(dirId(0))
          ((if (chain == 0) 1 else chain) until nDirs).foreach(i => p.varint(dirId(i)))
        }
        (0 until nSymlinks).foreach(i => p.varint(linkId(i)))
      }
    }
    (1 until chain).foreach { i =>
      dirSection.delimited { m =>
        m.tag(1, 0).varint(dirId(i - 1))
        m.msg(2)(p => p.varint(dirId(i)))
      }
    }
    // files round-robin under dirs
    if (nDirs > 0) {
      (0 until math.min(nDirs, math.max(nFiles, 0))).foreach { d =>
        dirSection.delimited { m =>
          m.tag(1, 0).varint(dirId(d))
          m.msg(2) { p =>
            var i = d
            while (i < nFiles) { p.varint(fileId(i)); i += nDirs }
          }
        }
      }
    }
    } // section INODE_DIR

    // ERASURE_CODING section: ONE delimited ErasureCodingSection with the
    // custom policy; the name field is deliberately omitted so readers
    // must derive Hadoop's canonical CODEC-d-p-⌊cell/1024⌋k form
    if (ecCustom) section("ERASURE_CODING") { w =>
      w.delimited { s =>
        s.msg(1) { p =>
          p.msg(2) { sch =>
            sch.str(1, "rs"); sch.tag(2, 0).varint(ec.dataUnits)
            sch.tag(3, 0).varint(ec.parityUnits)
          }
          p.tag(3, 0).varint(ec.cellSize)
          p.tag(4, 0).varint(ec.id)
          p.tag(5, 0).varint(1) // ENABLED
        }
      }
    }

    // CACHE_MANAGER section: header {nextDirectiveId, numPools,
    // numDirectives} + numPools CachePoolInfoProto + numDirectives
    // CacheDirectiveInfoProto — directives point at real file paths
    // (round-robin over the tree) and round-robin over the pools
    if (nCachePools > 0) section("CACHE_MANAGER") { cm =>
      cm.delimited { h =>
        h.tag(1, 0).varint(1000L + nCacheDirectives)
        h.tag(2, 0).varint(nCachePools)
        h.tag(3, 0).varint(nCacheDirectives)
      }
      (0 until nCachePools).foreach { p =>
        cm.delimited { m =>
          m.str(1, s"pool_$p")
          m.str(2, s"user${1 + p % 20}")
          m.str(3, s"grp${1 + p % 10}")
          m.tag(4, 0).varint(0x1ED) // 0755
          m.tag(5, 0).varint((1L << 30) * (p + 1)) // byte limit
          m.tag(6, 0).varint(86400000L * (p + 1))  // max relative expiry
          if (p % 2 == 1) m.tag(7, 0).varint(2)    // non-default replication
        }
      }
      (0 until nCacheDirectives).foreach { d =>
        cm.delimited { m =>
          m.tag(1, 0).varint(1L + d)
          m.str(2, if (nFiles > 0) filePath(d % nFiles) else s"/missing_$d")
          m.tag(3, 0).varint(1 + d % 3)
          m.str(4, s"pool_${d % nCachePools}")
          m.msg(5) { e =>
            e.tag(1, 0).varint(if (d % 3 == 0) 0L else 1893456000000L + d * 1000L)
            e.tag(2, 0).varint(if (d % 3 == 2) 1 else 0)
          }
        }
      }
    }

    // SECRET_MANAGER section: header {currentId, tokenSequenceNumber,
    // numKeys, numTokens} + numKeys DelegationKey {id, expiryDate, key}
    // + numTokens PersistToken. Deterministic audit-relevant shapes
    // (ground truth in [[secretKeyExpiry]]/[[secretTokenExpiry]]):
    // token t signs with key 1 + t % (nKeys + 1) — the t % (nKeys+1) ==
    // nKeys tokens reference a MISSING key; even t expire BEFORE their
    // key, odd t OUTLIVE it by an hour
    if (nDelegationKeys > 0) section("SECRET_MANAGER") { sm =>
      sm.delimited { h =>
        h.tag(1, 0).varint(nDelegationKeys)
        h.tag(2, 0).varint(nDelegationTokens)
        h.tag(3, 0).varint(nDelegationKeys)
        h.tag(4, 0).varint(nDelegationTokens)
      }
      (0 until nDelegationKeys).foreach { i =>
        sm.delimited { m =>
          m.tag(1, 0).varint(1L + i)
          m.tag(2, 0).varint(secretKeyExpiry(1 + i))
          m.str(3, "k" * (8 + i % 4)) // opaque key material, length varies
        }
      }
      (0 until nDelegationTokens).foreach { t =>
        sm.delimited { m =>
          m.tag(1, 0).varint(0L)
          m.str(2, s"user${1 + t % 20}")
          m.str(3, "yarn")
          if (t % 4 == 0) m.str(4, s"proxy${t % 3}")
          m.tag(5, 0).varint(1700000000000L + t * 1000L)
          m.tag(6, 0).varint(1700604800000L + t * 1000L)
          m.tag(7, 0).varint(1L + t)
          m.tag(8, 0).varint(1L + t % (nDelegationKeys + 1))
          m.tag(9, 0).varint(secretTokenExpiry(t, nDelegationKeys))
        }
      }
    }

    // FILES_UNDERCONSTRUCTION section: one delimited
    // FileUnderConstructionEntry {inodeId=1, fullPath=2} per open file —
    // paths resolved against the same tree INODE_DIR describes
    if (ucEvery > 0 && nFiles > 0) section("FILES_UNDERCONSTRUCTION") { ucSection =>
      (0 until nFiles).filter(isUc).foreach { i =>
        ucSection.delimited { e =>
          e.tag(1, 0).varint(fileId(i))
          e.str(2, filePath(i))
        }
      }
    }

    section("STRING_TABLE") { strings =>
    strings.delimited { h => h.tag(1, 0).varint(33); h.tag(2, 0).varint(3) }
    (1 to 20).foreach(i => strings.delimited { e => e.tag(1, 0).varint((1L << 29) | i); e.str(2, s"user$i") })
    strings.delimited { e => e.tag(1, 0).varint((1L << 29) | AclUserSerial); e.str(2, AclUserName) }
    (1 to 10).foreach(i => strings.delimited { e => e.tag(1, 0).varint((2L << 29) | i); e.str(2, s"grp$i") })
    XAttrNameSerials.foreach { case (s, n) =>
      strings.delimited { e => e.tag(1, 0).varint((3L << 29) | s); e.str(2, n) }
    }
    } // section STRING_TABLE

    // SNAPSHOT section: header {snapshotCounter, snapshottableDir packed,
    // numSnapshots} + one Snapshot{id, root INode} per snapshot of dir_0;
    // the root carries the snapshot's name (Hadoop freezes the dir there)
    if (nSnapshots > 0 && nDirs > 0) section("SNAPSHOT") { snapSection =>
      snapSection.delimited { h =>
        h.tag(1, 0).varint(nSnapshots)
        h.msg(2)(p => p.varint(dirId(0)))
        h.tag(3, 0).varint(nSnapshots)
      }
      (0 until nSnapshots).foreach { i =>
        snapSection.delimited { s =>
          s.tag(1, 0).varint(i)
          s.msg(2) { m =>
            m.tag(1, 0).varint(2); m.tag(2, 0).varint(dirId(0)); m.str(3, s"snap_$i")
            m.msg(5)(d => { d.tag(1, 0).varint(1700000000000L); d.tag(4, 1).fixed64(perm(1, 1, 0x1ED)) })
          }
        }
      }
    }

    // INODE_REFERENCE section: one delimited INodeReference per entry —
    // odd entries model the with-name side (old name kept alive inside a
    // snapshot → lastSnapshotId set), even entries the dst-reference side
    // (new live path → dstSnapshotId set); both refer to real file inodes
    if (nRefs > 0 && nFiles > 0) section("INODE_REFERENCE") { refSection =>
      (0 until nRefs).foreach { i =>
        refSection.delimited { r =>
          r.tag(1, 0).varint(fileId(i % nFiles))
          r.str(2, if (i % 2 == 1) s"old_name_$i.dat" else s"f_${i % nFiles}.dat")
          if (i % 2 == 0) r.tag(3, 0).varint(i % math.max(nSnapshots, 1))
          else r.tag(4, 0).varint(i % math.max(nSnapshots, 1))
        }
      }
    }

    // SNAPSHOT_DIFF section: alternating FileDiff / DirectoryDiff entries
    // in Hadoop's exact stream shape — DiffEntry header, then its diff
    // messages, then (dirs only) the trailing CreatedListEntry stream
    if (nDiffs > 0 && nFiles > 0 && nDirs > 0) section("SNAPSHOT_DIFF") { diffSection =>
      (0 until nDiffs).foreach { i =>
        val sid = i % math.max(nSnapshots, 1)
        if (i % 2 == 0) { // FILEDIFF on file i%nFiles
          diffSection.delimited { e =>
            e.tag(1, 0).varint(1)
            e.tag(2, 0).varint(fileId(i % nFiles))
            e.tag(3, 0).varint(1)
          }
          diffSection.delimited { d =>
            d.tag(1, 0).varint(sid)
            d.tag(2, 0).varint(512L * (i + 1))
            d.str(3, s"f_${i % nFiles}.dat")
          }
        } else { // DIRECTORYDIFF on dir i%nDirs, 2 created + 2 deleted
          diffSection.delimited { e =>
            e.tag(1, 0).varint(2)
            e.tag(2, 0).varint(dirId(i % nDirs))
            e.tag(3, 0).varint(1)
          }
          diffSection.delimited { d =>
            d.tag(1, 0).varint(sid)
            d.str(4, s"dir_${i % nDirs}")
            d.tag(6, 0).varint(2)
            d.msg(7)(p => { p.varint(fileId(i % nFiles)); p.varint(fileId((i + 1) % nFiles)) })
          }
          diffSection.delimited(c => c.str(1, s"created_a_$i"))
          diffSection.delimited(c => c.str(1, s"created_b_$i"))
        }
      }
    }

    val summary = new W()
    summary.delimited { fsm =>
      fsm.tag(1, 0).varint(1)
      fsm.tag(2, 0).varint(0xFFFFFFBFL) // layout -65 as uint
      if (zlib) fsm.str(3, FsImageFormat.ZlibCodec)
      located.result().foreach { case (name, len, off) =>
        fsm.msg(4)(sec => { sec.str(1, name); sec.tag(2, 0).varint(len); sec.tag(3, 0).varint(off) })
      }
    }
    val sb = summary.out.asInstanceOf[ByteArrayOutputStream].toByteArray
    val dos = new DataOutputStream(buf)
    dos.write(sb)
    dos.writeInt(sb.length)
    dos.close()
    GenSummary(sumSize, sumConsumed, nEc, nAcl, nSymlinks, nXattr, nUc)
  }
}
