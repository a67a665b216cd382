package graft.vt

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{Files, Path}

/** Delta Lake DELETION VECTOR codec — the protocol-v3 `deletionVectors`
  * reader feature, implemented from the public spec
  * (github.com/delta-io/delta/blob/master/PROTOCOL.md, "Deletion Vectors"
  * + the RoaringFormatSpec it references). A DV marks the 0-based physical
  * row indices of a data file that are MERGE-ON-READ deleted. Native
  * tables record the same descriptor per data file on its manifest entry
  * ([[ManifestEntry.dv]]), so one codec serves both table kinds.
  *
  * Three storage flavors, all supported:
  *  - `i` (inline): the serialized bitmap rides in the log action itself,
  *    Z85-encoded (ZeroMQ base85 alphabet, 4 bytes → 5 chars, zero-padded
  *    to a 4-byte multiple with `sizeInBytes` recording the true length);
  *  - `u` (relative): a `deletion_vector_<uuid>.bin` file under the table
  *    root (optionally inside a random prefix directory); `pathOrInlineDv`
  *    is `<prefix><Z85 of the 16 UUID bytes>` (20 chars);
  *  - `p` (absolute): an explicit path.
  *
  * On-disk DV files carry a 1-byte format version (1), then at
  * `offset`: [int32 BE dataSize][dataSize bytes][int32 BE CRC-32 of the
  * data] — the checksum is VERIFIED on read (a torn DV silently resurrecting
  * deleted rows is the failure mode this field exists for).
  *
  * The bitmap itself is a 64-bit RoaringBitmapArray in "portable" format:
  * int32 LE magic 1681511377, int64 LE bitmap count, then per bitmap an
  * int32 LE high-32-bit key + a standard 32-bit Roaring serialization
  * (RoaringFormatSpec: array/bitmap/run containers, both cookie layouts).
  * The deserializer reads every container kind; the serializer (fixtures +
  * [[VersionedTable]] DV export) emits the no-run layout with array/bitmap
  * containers — always legal, never lossy.
  */
object DeletionVectors {

  /** The `deletionVector` struct of an `add` action. */
  final case class DvDescriptor(storageType: String, pathOrInlineDv: String,
                                offset: Option[Int], sizeInBytes: Int,
                                cardinality: Long)

  // ---- Z85 ----------------------------------------------------------------

  private val Z85Alphabet =
    "0123456789abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ.-:+=^!/*?&<>()[]{}@%$#"
  private val Z85Decode: Array[Int] = {
    val a = Array.fill(128)(-1)
    Z85Alphabet.zipWithIndex.foreach { case (c, i) => a(c.toInt) = i }
    a
  }

  /** Z85-encode; `bytes` is zero-padded to a multiple of 4 (decoders know
    * the true length from `sizeInBytes`). */
  def z85Encode(bytes: Array[Byte]): String = {
    val padded =
      if (bytes.length % 4 == 0) bytes
      else bytes ++ new Array[Byte](4 - bytes.length % 4)
    val sb = new StringBuilder(padded.length / 4 * 5)
    var i = 0
    while (i < padded.length) {
      var n = ((padded(i) & 0xffL) << 24) | ((padded(i + 1) & 0xffL) << 16) |
        ((padded(i + 2) & 0xffL) << 8) | (padded(i + 3) & 0xffL)
      val chunk = new Array[Char](5)
      var j = 4
      while (j >= 0) { chunk(j) = Z85Alphabet((n % 85).toInt); n /= 85; j -= 1 }
      sb.appendAll(chunk)
      i += 4
    }
    sb.toString
  }

  /** Z85-decode to exactly `outLen` bytes (strips the encoder's padding). */
  def z85Decode(s: String, outLen: Int): Array[Byte] = {
    require(s.length % 5 == 0, s"Z85 length ${s.length} not a multiple of 5")
    val out = new Array[Byte](s.length / 5 * 4)
    var i = 0
    while (i < s.length) {
      var n = 0L
      var j = 0
      while (j < 5) {
        val c = s.charAt(i + j)
        val v = if (c < 128) Z85Decode(c.toInt) else -1
        require(v >= 0, s"invalid Z85 character '$c'")
        n = n * 85 + v
        j += 1
      }
      val o = i / 5 * 4
      out(o) = (n >> 24).toByte; out(o + 1) = (n >> 16).toByte
      out(o + 2) = (n >> 8).toByte; out(o + 3) = n.toByte
      i += 5
    }
    require(outLen <= out.length, s"Z85 payload shorter than expected $outLen")
    java.util.Arrays.copyOf(out, outLen)
  }

  // ---- RoaringBitmapArray (portable) --------------------------------------

  private val Magic = 1681511377
  private val CookieNoRun = 12346
  private val CookieRun = 12347

  /** Serialize sorted distinct 0-based positions (no-run layout:
    * array containers ≤4096 values, bitmap containers above). */
  def serialize(positions: Seq[Long]): Array[Byte] = {
    val b = new RoaringBuilder
    positions.distinct.sorted.foreach(b.add)
    b.result()
  }

  /** STREAMING portable-RoaringBitmapArray serializer: feed positions in
    * ascending order (consecutive duplicates tolerated), take the final
    * bytes. Memory is O(serialized size) — one ≤64 Ki-value container is
    * open at a time and flushes to its ≤8 KiB payload — NEVER O(positions),
    * so an executor task can build the DV of a 10⁹-row MOR delete without
    * materializing the position set ([[graft.vt.DeltaLogWriter]]'s
    * distributed export path relies on exactly this). */
  final class RoaringBuilder {
    private val bitmaps = Vector.newBuilder[(Int, Array[Byte])]
    // containers of the CURRENT high-32 key: (16-bit key, cardinality, payload)
    private val containers = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Array[Byte])]
    private val vals = new Array[Short](65536) // open container's low-16 values
    private var n = 0
    private var curHigh = -1L
    private var curKey = -1
    private var last = -1L
    private var count = 0L

    def add(pos: Long): Unit = {
      require(pos >= 0, "DV positions are non-negative row indices")
      if (pos == last) return // tolerate consecutive duplicates
      require(pos > last,
        s"RoaringBuilder positions must be ascending (got $pos after $last)")
      last = pos; count += 1
      val high = pos >>> 32
      val key = ((pos >>> 16) & 0xffff).toInt
      if (high != curHigh || key != curKey) {
        flushContainer()
        if (high != curHigh) { flushHigh(); curHigh = high }
        curKey = key
      }
      vals(n) = (pos & 0xffff).toShort; n += 1
    }

    /** Distinct positions added so far. */
    def cardinality: Long = count

    private def flushContainer(): Unit = if (n > 0) {
      val payload =
        if (n <= 4096) { // array container
          val b = ByteBuffer.allocate(2 * n).order(ByteOrder.LITTLE_ENDIAN)
          (0 until n).foreach(i => b.putShort(vals(i)))
          b.array()
        } else { // bitmap container: 1024 × int64
          val words = new Array[Long](1024)
          (0 until n).foreach { i =>
            val low = vals(i) & 0xffff; words(low >>> 6) |= 1L << (low & 63)
          }
          val b = ByteBuffer.allocate(8192).order(ByteOrder.LITTLE_ENDIAN)
          words.foreach(b.putLong)
          b.array()
        }
      containers += ((curKey, n, payload))
      n = 0
    }

    private def flushHigh(): Unit = if (containers.nonEmpty) {
      val cs = containers.size
      val headerLen = 8 + 4 * cs + 4 * cs // cookie+count, descriptors, offsets
      val buf = ByteBuffer.allocate(headerLen + containers.map(_._3.length).sum)
        .order(ByteOrder.LITTLE_ENDIAN)
      buf.putInt(CookieNoRun).putInt(cs)
      containers.foreach { case (k, card, _) =>
        buf.putShort(k.toShort).putShort((card - 1).toShort)
      }
      var pos = headerLen
      containers.foreach { c => buf.putInt(pos); pos += c._3.length }
      containers.foreach(c => buf.put(c._3))
      bitmaps += ((curHigh.toInt, buf.array()))
      containers.clear()
    }

    def result(): Array[Byte] = {
      flushContainer(); flushHigh()
      val bs = bitmaps.result()
      val buf = ByteBuffer.allocate(4 + 8 + bs.map(4 + _._2.length).sum)
        .order(ByteOrder.LITTLE_ENDIAN)
      buf.putInt(Magic).putLong(bs.size.toLong)
      bs.foreach { case (hk, b) => buf.putInt(hk).put(b) }
      buf.array()
    }
  }

  /** Deserialize a portable RoaringBitmapArray to sorted positions. */
  def deserialize(bytes: Array[Byte]): Vector[Long] = {
    val buf = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    require(buf.getInt() == Magic,
      "not a portable RoaringBitmapArray (bad magic) — unsupported DV serialization")
    val nBitmaps = buf.getLong()
    val out = Vector.newBuilder[Long]
    (0L until nBitmaps).foreach { _ =>
      val highKey = buf.getInt().toLong & 0xffffffffL
      deserialize32(buf).foreach(v => out += (highKey << 32) | (v.toLong & 0xffffffffL))
    }
    out.result()
  }

  /** Standard 32-bit Roaring read, advancing `buf` past the bitmap. */
  private def deserialize32(buf: ByteBuffer): Vector[Int] = {
    val start = buf.position()
    val cookieWord = buf.getInt()
    val (n, runFlags) =
      if ((cookieWord & 0xffff) == CookieRun) {
        val count = (cookieWord >>> 16) + 1
        val flags = new Array[Byte]((count + 7) / 8)
        buf.get(flags)
        (count, Some(flags))
      } else {
        require(cookieWord == CookieNoRun, s"bad Roaring cookie $cookieWord")
        (buf.getInt(), None)
      }
    def isRun(i: Int): Boolean =
      runFlags.exists(f => (f(i / 8) & (1 << (i % 8))) != 0)
    val keys = new Array[Int](n)
    val cards = new Array[Int](n)
    (0 until n).foreach { i =>
      keys(i) = buf.getShort() & 0xffff
      cards(i) = (buf.getShort() & 0xffff) + 1
    }
    // offset header: always for the no-run cookie; with runs only when n ≥ 4
    val hasOffsets = runFlags.isEmpty || n >= 4
    val offsets = if (hasOffsets) (0 until n).map(_ => buf.getInt()) else Nil
    val out = Vector.newBuilder[Int]
    (0 until n).foreach { i =>
      if (hasOffsets) buf.position(start + offsets(i))
      val base = keys(i) << 16
      if (isRun(i)) {
        val nRuns = buf.getShort() & 0xffff
        (0 until nRuns).foreach { _ =>
          val s = buf.getShort() & 0xffff
          val len = buf.getShort() & 0xffff
          (s to s + len).foreach(v => out += (base | v))
        }
      } else if (cards(i) <= 4096) {
        (0 until cards(i)).foreach(_ => out += (base | (buf.getShort() & 0xffff)))
      } else {
        (0 until 1024).foreach { w =>
          var word = buf.getLong()
          var bit = 0
          while (word != 0) {
            val tz = java.lang.Long.numberOfTrailingZeros(word)
            bit += tz
            out += (base | (w * 64 + bit))
            word = word >>> tz >>> 1
            bit += 1
          }
        }
      }
    }
    out.result()
  }

  // ---- DV file / descriptor IO -------------------------------------------

  /** Resolve a descriptor to its deleted-position set. `tableRoot` anchors
    * relative (`u`) DVs. CRC-verified for on-disk flavors. */
  /** The on-disk file a `u`/`p` descriptor points at (None for inline `i`). */
  def dvFile(tableRoot: Path, dv: DvDescriptor): Option[Path] = dv.storageType match {
    case "i" => None
    case "p" => Some(java.nio.file.Paths.get(dv.pathOrInlineDv))
    case "u" =>
      val enc = dv.pathOrInlineDv
      require(enc.length >= 20, s"bad DV uuid encoding '$enc'")
      val (prefix, uuidEnc) = enc.splitAt(enc.length - 20)
      val ub = z85Decode(uuidEnc, 16)
      val bb = ByteBuffer.wrap(ub)
      val uuid = new java.util.UUID(bb.getLong(), bb.getLong())
      val dir = if (prefix.isEmpty) tableRoot else tableRoot.resolve(prefix)
      Some(dir.resolve(s"deletion_vector_$uuid.bin"))
    case other =>
      throw new IllegalArgumentException(s"unknown DV storageType '$other'")
  }

  def readPositions(tableRoot: Path, dv: DvDescriptor): Vector[Long] =
    dv.storageType match {
      case "i" =>
        deserialize(z85Decode(dv.pathOrInlineDv, dv.sizeInBytes))
      case "u" | "p" =>
        val file = dvFile(tableRoot, dv).get
        val all = Files.readAllBytes(file)
        val off = dv.offset.getOrElse(1) // byte 0 is the format version
        require(all.nonEmpty && all(0) == 1,
          s"unsupported DV file format version ${if (all.isEmpty) "<empty>" else all(0)} in $file")
        val bb = ByteBuffer.wrap(all).order(ByteOrder.BIG_ENDIAN)
        bb.position(off)
        val dataSize = bb.getInt()
        require(dataSize == dv.sizeInBytes,
          s"DV size mismatch in $file: stored $dataSize, descriptor ${dv.sizeInBytes}")
        val data = new Array[Byte](dataSize)
        bb.get(data)
        val storedCrc = bb.getInt()
        val crc = new java.util.zip.CRC32
        crc.update(data)
        require(storedCrc == crc.getValue.toInt,
          s"DV checksum mismatch in $file — refusing to silently resurrect deleted rows")
        deserialize(data)
      case other =>
        throw new IllegalArgumentException(s"unknown DV storageType '$other'")
    }

  /** Author an on-disk (`u`-flavor) DV file for `positions` under
    * `tableRoot`; returns its descriptor. Used by fixtures. */
  def writeDvFile(tableRoot: Path, positions: Seq[Long]): DvDescriptor =
    writeDvBytes(tableRoot, serialize(positions), positions.distinct.size.toLong)

  /** On-disk (`u`-flavor) DV from an already-serialized bitmap, written as
    * `<tableRoot>/<prefix>/deletion_vector_<uuid>.bin` — the prefix is
    * Delta's optional random-prefix directory, which native tables set to
    * `data` so vacuum sweeps their vectors with their data files. Callable
    * inside an executor task: the position set never leaves it. */
  def writeDvBytes(tableRoot: Path, data: Array[Byte], cardinality: Long,
                   prefix: String = ""): DvDescriptor = {
    val uuid = java.util.UUID.randomUUID()
    val buf = ByteBuffer.allocate(1 + 4 + data.length + 4).order(ByteOrder.BIG_ENDIAN)
    val crc = new java.util.zip.CRC32
    crc.update(data)
    buf.put(1.toByte).putInt(data.length).put(data).putInt(crc.getValue.toInt)
    val dir = if (prefix.isEmpty) tableRoot else tableRoot.resolve(prefix)
    Files.write(dir.resolve(s"deletion_vector_$uuid.bin"), buf.array())
    val ub = ByteBuffer.allocate(16)
    ub.putLong(uuid.getMostSignificantBits).putLong(uuid.getLeastSignificantBits)
    DvDescriptor("u", prefix + z85Encode(ub.array()), Some(1), data.length, cardinality)
  }

  /** Inline (`i`-flavor) descriptor for `positions`. */
  def inlineDescriptor(positions: Seq[Long]): DvDescriptor = {
    val data = serialize(positions)
    DvDescriptor("i", z85Encode(data), None, data.length, positions.distinct.size.toLong)
  }

  /** Inline (`i`-flavor) descriptor from pre-serialized bytes. */
  def inlineBytes(data: Array[Byte], cardinality: Long): DvDescriptor =
    DvDescriptor("i", z85Encode(data), None, data.length, cardinality)

  /** Vectors of at most this many positions ride inline in their entry;
    * larger ones go to a `.bin` file (delta-spark's own small-DV split). */
  val InlineDvMax = 1024

  /** The table-root-relative path of a `u`-flavor descriptor's file (None
    * for inline and absolute descriptors) — what vacuum retains. */
  def relativeFile(dv: DvDescriptor): Option[String] =
    if (dv.storageType != "u") None
    else dvFile(java.nio.file.Paths.get(""), dv).map(_.toString)

  // Memoized decode per (table root, descriptor, file stamp): every split
  // of a file, and every read of one snapshot in a JVM, shares one decode.
  // A file-backed vector's key carries its file's modification time, so a
  // file changed in place is decoded (and checksummed) afresh, the rule
  // the footer cache follows; inline descriptors never touch the
  // filesystem.
  private val positionCache =
    new BoundedCache[(String, DvDescriptor, Option[java.nio.file.attribute.FileTime]),
      Array[Long]](256)

  /** Sorted distinct deleted positions of `dv`, memoized — the one
    * position loader of the native and foreign-Delta merge-on-read
    * readers, executor- or driver-side. */
  def positions(tableRoot: String, dv: DvDescriptor): Array[Long] = {
    val root = java.nio.file.Paths.get(tableRoot)
    val stamp = dvFile(root, dv).filter(Files.exists(_)).map(Files.getLastModifiedTime(_))
    positionCache.get((tableRoot, dv, stamp))(
      readPositions(root, dv).distinct.sorted.toArray)
  }
}
