package graft.delta

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.roaringbitmap.longlong.Roaring64NavigableMap

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}
import java.nio.{ByteBuffer, ByteOrder}
import java.util.zip.CRC32

/** Deletion vectors (delta protocol reader-3 table feature): per-file
  * bitmaps of soft-deleted row positions, so DELETE writes a few KB of
  * bitmap instead of rewriting data files — the DML shape that matters at
  * 100 TB, where a selective delete over range-clustered files would
  * otherwise rewrite terabytes to drop megabytes.
  *
  * Storage (PROTOCOL.md "Deletion Vectors"): a descriptor on the `add`
  * action points at bitmap bytes either inline (`storageType "i"`,
  * Z85-encoded in pathOrInlineDv), in a UUID-named sibling file (`"u"`,
  * pathOrInlineDv = Z85 of the 16-byte UUID), or at an absolute path
  * (`"p"`). A DV file holds [1-byte format version = 1] then per DV:
  * [4-byte BE data size][bitmap bytes][4-byte BE CRC32 of the bitmap
  * bytes]; the descriptor's `offset` addresses the size word. Bitmap
  * bytes are [4-byte LE magic 1681511377][Roaring64NavigableMap portable
  * serialization]. Round-trip is spec-pinned (DeletionVectorSpec); the
  * container has no delta-spark to cross-validate against, so foreign
  * interop rests on the protocol text.
  *
  * Scan-side application: files with DVs are read with parquet's
  * `_metadata.row_index` and filtered by bitmap membership; the bitmap
  * bytes ride a Broadcast[DvIndex] (fetched once per executor, not once
  * per task closure) and the per-row probe is a codegen'd expression
  * (org.apache.spark.sql.graft.DvProbe — no ScalaUDF boxing). Only
  * DV-carrying files pay this; DV-free files keep their plain
  * vectorized scan.
  */
object DeletionVectors {

  // ---- Z85 (ZeroMQ spec 32) ---------------------------------------------

  private val Z85Alphabet =
    "0123456789abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ.-:+=^!/*?&<>()[]{}@%$#"
  private val Z85Decode: Array[Int] = {
    val d = Array.fill(128)(-1)
    Z85Alphabet.zipWithIndex.foreach { case (c, i) => d(c.toInt) = i }
    d
  }

  /** Z85-encode; input length must be a multiple of 4 (the bitmap and
    * UUID payloads we encode always are — serde pads the bitmap). */
  def z85Encode(bytes: Array[Byte]): String = {
    require(bytes.length % 4 == 0, s"Z85 needs 4-byte alignment, got ${bytes.length}")
    val sb = new StringBuilder(bytes.length / 4 * 5)
    var i = 0
    while (i < bytes.length) {
      var v = 0L
      var j = 0
      while (j < 4) { v = (v << 8) | (bytes(i + j) & 0xFFL); j += 1 }
      var div = 52200625L // 85^4
      while (div >= 1) {
        sb.append(Z85Alphabet(((v / div) % 85).toInt))
        div /= 85
      }
      i += 4
    }
    sb.toString
  }

  def z85Decode(s: String): Array[Byte] = {
    require(s.length % 5 == 0, s"Z85 length must be a multiple of 5, got ${s.length}")
    val out = new Array[Byte](s.length / 5 * 4)
    var i = 0
    var o = 0
    while (i < s.length) {
      var v = 0L
      var j = 0
      while (j < 5) {
        val c = s.charAt(i + j)
        val d = if (c < 128) Z85Decode(c.toInt) else -1
        require(d >= 0, s"invalid Z85 char '$c'")
        v = v * 85 + d
        j += 1
      }
      var k = 3
      while (k >= 0) { out(o + k) = (v & 0xFF).toByte; v >>= 8; k -= 1 }
      i += 5
      o += 4
    }
    out
  }

  // ---- bitmap serde ------------------------------------------------------

  /** Magic of the serialized bitmap payload (PROTOCOL.md). */
  val Magic = 1681511377

  /** [LE magic][Roaring64 portable], zero-padded to 4-byte alignment so
    * inline Z85 encoding never needs out-of-band length bookkeeping
    * (portable deserialization reads its own length; trailing zeros are
    * ignored). */
  def serializeBitmap(rb: Roaring64NavigableMap): Array[Byte] = {
    rb.runOptimize()
    val bos = new ByteArrayOutputStream()
    val dos = new DataOutputStream(bos)
    dos.writeInt(Integer.reverseBytes(Magic))
    rb.serializePortable(dos)
    dos.flush()
    val raw = bos.toByteArray
    if (raw.length % 4 == 0) raw
    else raw ++ new Array[Byte](4 - raw.length % 4)
  }

  def deserializeBitmap(bytes: Array[Byte]): Roaring64NavigableMap = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val magic = Integer.reverseBytes(in.readInt())
    require(magic == Magic, s"bad deletion-vector magic $magic")
    val rb = new Roaring64NavigableMap()
    rb.deserializePortable(in)
    rb
  }

  // ---- DV file I/O -------------------------------------------------------

  def dvFileName(uuid: java.util.UUID): String = s"deletion_vector_$uuid.bin"

  private def uuidBytes(uuid: java.util.UUID): Array[Byte] = {
    val bb = ByteBuffer.allocate(16).order(ByteOrder.BIG_ENDIAN)
    bb.putLong(uuid.getMostSignificantBits)
    bb.putLong(uuid.getLeastSignificantBits)
    bb.array()
  }

  private def uuidFromBytes(b: Array[Byte]): java.util.UUID = {
    val bb = ByteBuffer.wrap(b).order(ByteOrder.BIG_ENDIAN)
    new java.util.UUID(bb.getLong, bb.getLong)
  }

  /** Write one DV file under the table root holding every bitmap of this
    * commit, and return per-key descriptors (storageType "u"). One file
    * per commit — the delta layout — so a wide DELETE costs one extra
    * object-store PUT, not one per touched data file. */
  def writeDvFile(
      fs: FileSystem, tableRoot: Path,
      bitmaps: Seq[(String, Roaring64NavigableMap)]): Map[String, DeletionVectorDescriptor] = {
    val uuid = java.util.UUID.randomUUID()
    val target = new Path(tableRoot, dvFileName(uuid))
    val out = fs.create(target, /*overwrite=*/ false)
    val encoded = z85Encode(uuidBytes(uuid))
    try {
      out.write(1) // format version
      var pos = 1L
      bitmaps.map { case (key, rb) =>
        val data = serializeBitmap(rb)
        val crc = new CRC32()
        crc.update(data)
        out.writeInt(data.length)
        out.write(data)
        out.writeInt(crc.getValue.toInt)
        val desc = DeletionVectorDescriptor(
          storageType = "u", pathOrInlineDv = encoded,
          offset = Some(pos.toInt), sizeInBytes = data.length,
          cardinality = rb.getLongCardinality)
        pos += 4L + data.length + 4L
        key -> desc
      }.toMap
    } finally out.close()
  }

  /** Inline descriptor (storageType "i") — for single-file deletes small
    * enough that a sibling file is not worth an object-store round trip. */
  def inlineDescriptor(rb: Roaring64NavigableMap): DeletionVectorDescriptor = {
    val data = serializeBitmap(rb)
    DeletionVectorDescriptor(
      storageType = "i", pathOrInlineDv = z85Encode(data),
      offset = None, sizeInBytes = data.length,
      cardinality = rb.getLongCardinality)
  }

  /** Load a descriptor's bitmap bytes (driver-side; a DV is a few KB by
    * construction). CRC-checked for file-backed DVs. */
  def loadBytes(fs: FileSystem, tableRoot: Path, d: DeletionVectorDescriptor): Array[Byte] =
    d.storageType match {
      case "i" => z85Decode(d.pathOrInlineDv)
      case "u" | "p" =>
        val p =
          if (d.storageType == "p") new Path(d.pathOrInlineDv)
          else relativeDvPath(tableRoot, d.pathOrInlineDv)
        val in = fs.open(p)
        try {
          val off = d.offset.getOrElse(
            throw new IllegalStateException(s"file-backed DV without offset: $d"))
          in.seek(off.toLong)
          val size = in.readInt()
          require(size == d.sizeInBytes,
            s"DV size mismatch at $p:$off — file says $size, descriptor ${d.sizeInBytes}")
          val data = new Array[Byte](size)
          in.readFully(data)
          val crcStored = in.readInt()
          val crc = new CRC32()
          crc.update(data)
          require(crc.getValue.toInt == crcStored, s"DV checksum mismatch at $p:$off")
          data
        } finally in.close()
      case other =>
        throw new IllegalStateException(s"unknown deletionVector storageType '$other'")
    }

  def loadBitmap(fs: FileSystem, tableRoot: Path, d: DeletionVectorDescriptor): Roaring64NavigableMap =
    deserializeBitmap(loadBytes(fs, tableRoot, d))

  /** Resolve a storageType-"u" pathOrInlineDv: the LAST 20 chars are the
    * Z85 of the 16-byte UUID; the spec allows an optional random prefix
    * before them, which is a directory under the table root (foreign
    * writers use it to spread object-store key load). */
  private[graft] def relativeDvName(pathOrInlineDv: String): String = {
    require(pathOrInlineDv.length >= 20,
      s"storageType-u DV pathOrInlineDv too short for a UUID: '$pathOrInlineDv'")
    val (prefix, enc) = pathOrInlineDv.splitAt(pathOrInlineDv.length - 20)
    val name = dvFileName(uuidFromBytes(z85Decode(enc)))
    if (prefix.isEmpty) name else s"${prefix.stripSuffix("/")}/$name"
  }

  private[delta] def relativeDvPath(tableRoot: Path, pathOrInlineDv: String): Path =
    new Path(tableRoot, relativeDvName(pathOrInlineDv))

  /** UUID of a storageType-"u" descriptor (prefix, if any, ignored). */
  def uuidOfDescriptor(d: DeletionVectorDescriptor): java.util.UUID = {
    require(d.storageType == "u", s"not a UUID-relative DV: $d")
    uuidFromBytes(z85Decode(d.pathOrInlineDv.takeRight(20)))
  }

  // ---- scan-side application --------------------------------------------

  /** name → bitmap bytes for every DV-carrying file, or empty. The loads
    * go through [[FanOut]]: serial on the driver for a few carriers, one
    * Spark job above its threshold (a serial driver loop over 10^4+
    * object-store reads is plan-time latency nobody should pay; one DV
    * file per COMMIT means tasks mostly hit distinct objects). */
  def dvByteMap(
      spark: org.apache.spark.sql.SparkSession, tableRoot: Path,
      files: Seq[AddFile]): Map[String, Array[Byte]] = {
    val rootStr = tableRoot.toString
    FanOut(spark, files.flatMap(f => f.deletionVector.map(f.path -> _))) {
      case (conf, (p, d)) =>
        val root = new Path(rootStr)
        dataFileName(root, p) -> loadBytes(root.getFileSystem(conf), root, d)
    }.toMap
  }

  private def dataFileName(tableRoot: Path, addPath: String): String = {
    val raw = DeltaRead.resolvePath(tableRoot.toString, addPath)
    raw.substring(raw.lastIndexOf('/') + 1)
  }

  private def probeFilter(df: DataFrame, dvBytes: Map[String, Array[Byte]],
      keepDeleted: Boolean): DataFrame = {
    val bcast = df.sparkSession.sparkContext.broadcast(new DvIndex(dvBytes))
    df.withColumn("__dv_path", col("_metadata.file_path"))
      .withColumn("__dv_idx", col("_metadata.row_index"))
      .filter(org.apache.spark.sql.graft.DvExpressions.probe(
        bcast, col("__dv_path"), col("__dv_idx"), keepDeleted))
      .drop("__dv_path", "__dv_idx")
  }

  /** Filter a freshly-loaded parquet scan down to live rows. MUST be
    * applied directly on the scan (before joins/aggregates) — that is
    * where `_metadata` resolves. No-op for an empty map. The bitmap
    * bytes broadcast once per executor and the per-row probe is a
    * codegen'd expression (DvProbe) — no ScalaUDF, no closure-shipped
    * bitmap bytes. */
  def applyFilter(df: DataFrame, dvBytes: Map[String, Array[Byte]]): DataFrame =
    if (dvBytes.isEmpty) df
    else probeFilter(df, dvBytes, keepDeleted = false)

  /** Inverse polarity: ONLY the rows the bitmaps mark deleted — the
    * change-feed primitive (scan a file at the positions of a DV diff).
    * Files absent from the map contribute nothing. */
  def selectDeleted(df: DataFrame, dvBytes: Map[String, Array[Byte]]): DataFrame =
    if (dvBytes.isEmpty) df.limit(0)
    else probeFilter(df, dvBytes, keepDeleted = true)

  /** Union of an existing DV (if any) with newly-deleted positions. */
  def merged(
      fs: FileSystem, tableRoot: Path, add: AddFile,
      fresh: Roaring64NavigableMap): Roaring64NavigableMap = {
    add.deletionVector.foreach(d => fresh.or(loadBitmap(fs, tableRoot, d)))
    fresh
  }

  // ---- executor-side position aggregation --------------------------------

  /** Typed aggregator folding matched row positions into a per-file
    * Roaring bitmap ON THE EXECUTORS, with map-side partial aggregation:
    * the shuffle carries serialized partial bitmaps, and the driver
    * receives one compressed blob per touched file (KBs) instead of every
    * matched position. This is what keeps a scattered 1 % DELETE over a
    * 100 TB table (~10^9 matched rows) out of driver memory — a
    * collect_list(row_index) would materialize every position as a boxed
    * Long on the driver before any bitmap existed, and the plan would die
    * before the protocol did. Buffer serde is Java serialization:
    * Roaring64NavigableMap is Externalizable and its wire form is the
    * same compressed container layout the finish() payload uses. */
  object PositionBitmapAgg
      extends org.apache.spark.sql.expressions.Aggregator[Long, Roaring64NavigableMap, Array[Byte]] {
    override def zero: Roaring64NavigableMap = new Roaring64NavigableMap()
    override def reduce(b: Roaring64NavigableMap, pos: Long): Roaring64NavigableMap = {
      b.addLong(pos); b
    }
    override def merge(a: Roaring64NavigableMap, b: Roaring64NavigableMap): Roaring64NavigableMap = {
      a.or(b); a
    }
    override def finish(b: Roaring64NavigableMap): Array[Byte] = serializeBitmap(b)
    override def bufferEncoder: org.apache.spark.sql.Encoder[Roaring64NavigableMap] =
      org.apache.spark.sql.Encoders.javaSerialization(classOf[Roaring64NavigableMap])
    override def outputEncoder: org.apache.spark.sql.Encoder[Array[Byte]] =
      org.apache.spark.sql.Encoders.BINARY
  }
}
