package graft.streaming

import java.io.{DataInputStream, DataOutputStream}
import java.nio.ByteBuffer
import java.util.zip.{CRC32, CRC32C}

/** Kafka wire-protocol codec — the public binary protocol
  * (kafka.apache.org/protocol) at two dialects:
  *
  *  - the pre-flexible fixed-width versions: Produce v0 (api key 0),
  *    Fetch v0 (1), ListOffsets v0 (2), Metadata v0 (3), ApiVersions v0
  *    (18), with the magic-1 MessageSet record format (offset, size,
  *    crc, magic, attributes, timestamp, key, value; CRC32 over
  *    magic..value);
  *  - the MODERN record format a Kafka 3/4 broker actually serves:
  *    magic-2 RecordBatch (baseOffset, batchLength,
  *    partitionLeaderEpoch, magic=2, CRC32C over attributes..end,
  *    attributes, lastOffsetDelta, base/maxTimestamp, producer
  *    id/epoch/baseSequence, then records with zigzag-varint lengths
  *    and offset/timestamp DELTAS plus headers), carried by
  *    Produce v3 (transactional_id, log_append_time + throttle in the
  *    response) and Fetch v4 (max_bytes + isolation_level in the
  *    request; throttle, last_stable_offset + aborted_transactions in
  *    the response), plus ListOffsets v1 (timestamp-keyed, single
  *    offset per partition). Message-format v0/v1 was removed in
  *    Kafka 4.0, so the v2 batch path is what interoperates today.
  *
  * Everything is big-endian; strings are int16-length-prefixed,
  * byte blobs int32-length-prefixed, arrays int32-counted — exactly
  * the framing a real broker or client of these versions emits.
  * Varints inside v2 record bodies are ZIGZAG-encoded (protobuf
  * style), as the record spec requires.
  *
  * This codec backs both sides of the engine's socket path: the
  * in-process broker ([[KafkaWireBroker]]) serving the topic log and
  * the streaming source's client ([[KafkaWireClient]]) — the
  * reference's `KafkaPartitionLevelConnectionHandler.java` role. The
  * container ships no Kafka jars, so both ends are implemented here;
  * the bytes on the socket are the protocol's.
  */
object KafkaWire {

  val ApiProduce: Short = 0
  val ApiFetch: Short = 1
  val ApiListOffsets: Short = 2
  val ApiMetadata: Short = 3
  val ApiVersions: Short = 18

  val EarliestTs: Long = -2L
  val LatestTs: Long = -1L

  final case class Record(key: Array[Byte], value: Array[Byte],
      timestampMs: Long, offset: Long = -1L)

  // ---- primitive writers over a growable buffer ----
  final class Writer {
    private var buf = ByteBuffer.allocate(256)
    private def ensure(n: Int): Unit =
      if (buf.remaining < n) {
        val grown = ByteBuffer.allocate(math.max(buf.capacity * 2,
          buf.position() + n))
        buf.flip()
        grown.put(buf)
        buf = grown
      }
    def i8(v: Byte): Writer = { ensure(1); buf.put(v); this }
    def i16(v: Short): Writer = { ensure(2); buf.putShort(v); this }
    def i32(v: Int): Writer = { ensure(4); buf.putInt(v); this }
    def i64(v: Long): Writer = { ensure(8); buf.putLong(v); this }
    def raw(b: Array[Byte]): Writer = { ensure(b.length); buf.put(b); this }
    /** KIP-482 unsigned varint (NOT zigzag — that's the record-batch
      * encoding; flexible framing uses plain base-128). */
    def uvarint(v0: Int): Writer = {
      var v = v0
      while ((v & ~0x7f) != 0) {
        i8(((v & 0x7f) | 0x80).toByte)
        v = v >>> 7
      }
      i8((v & 0x7f).toByte)
    }

    /** Compact string: uvarint(len + 1), 0 = null. */
    def compactStr(s: String): Writer =
      if (s == null) uvarint(0)
      else {
        val b = s.getBytes("UTF-8")
        uvarint(b.length + 1).raw(b)
      }

    /** Compact bytes: uvarint(len + 1), 0 = null. */
    def compactBytes(b: Array[Byte]): Writer =
      if (b == null) uvarint(0)
      else uvarint(b.length + 1).raw(b)

    /** Compact array header: uvarint(n + 1). */
    def compactArray(n: Int): Writer = uvarint(n + 1)

    /** Empty tagged-fields section. */
    def tags(): Writer = uvarint(0)

    def str(s: String): Writer =
      if (s == null) i16(-1)
      else {
        val b = s.getBytes("UTF-8")
        i16(b.length.toShort).raw(b)
      }
    def bytes(b: Array[Byte]): Writer =
      if (b == null) i32(-1) else i32(b.length).raw(b)
    def result(): Array[Byte] = java.util.Arrays.copyOf(buf.array(), buf.position())
  }

  final class Reader(bytes: Array[Byte]) {
    private val bb = ByteBuffer.wrap(bytes)
    def i8(): Byte = bb.get()
    def i16(): Short = bb.getShort()
    def i32(): Int = bb.getInt()
    def i64(): Long = bb.getLong()
    def str(): String = {
      val n = bb.getShort()
      if (n < 0) null
      else {
        val b = new Array[Byte](n)
        bb.get(b)
        new String(b, "UTF-8")
      }
    }
    def uvarint(): Int = {
      var v = 0
      var shift = 0
      var b = 0
      do {
        b = bb.get() & 0xff
        v |= (b & 0x7f) << shift
        shift += 7
      } while ((b & 0x80) != 0)
      v
    }

    /** Compact string: uvarint(len + 1), 0 = null. */
    def compactStr(): String = {
      val n = uvarint() - 1
      if (n < 0) null
      else {
        val b = new Array[Byte](n)
        bb.get(b)
        new String(b, "UTF-8")
      }
    }

    /** Compact bytes: uvarint(len + 1), 0 = null. */
    def compactBytes(): Array[Byte] = {
      val n = uvarint() - 1
      if (n < 0) null
      else {
        val b = new Array[Byte](n)
        bb.get(b)
        b
      }
    }

    /** Compact array length (-1 = null array). */
    def compactArrayLen(): Int = uvarint() - 1

    /** Skip a tagged-fields section. */
    def tags(): Unit = {
      val n = uvarint()
      (0 until n).foreach { _ =>
        uvarint() // tag
        val size = uvarint()
        bb.position(bb.position() + size)
      }
    }

    def blob(): Array[Byte] = {
      val n = bb.getInt()
      if (n < 0) null
      else {
        val b = new Array[Byte](n)
        bb.get(b)
        b
      }
    }
    def raw(n: Int): Array[Byte] = {
      val b = new Array[Byte](n)
      bb.get(b)
      b
    }
    def remaining: Int = bb.remaining
  }

  // ---- framing ----
  /** [int32 size][payload], as one write and one flush: with Nagle's
    * algorithm a frame split across writes waits for the peer's
    * delayed ACK (see [[WireSocket]]). */
  def writeFrame(out: DataOutputStream, payload: Array[Byte]): Unit = {
    out.write(ByteBuffer.allocate(4 + payload.length)
      .putInt(payload.length).put(payload).array())
    out.flush()
  }

  def readFrame(in: DataInputStream): Array[Byte] = {
    val size = in.readInt()
    require(size >= 0 && size <= (64 << 20), s"bad frame size $size")
    val b = new Array[Byte](size)
    in.readFully(b)
    b
  }

  /** Request header (v1): api_key, api_version, correlation_id,
    * client_id. */
  final case class RequestHeader(apiKey: Short, apiVersion: Short,
      correlationId: Int, clientId: String)

  def readRequestHeader(r: Reader): RequestHeader = {
    val h = RequestHeader(r.i16(), r.i16(), r.i32(), r.str())
    // flexible request versions use header v2: same fields (client_id
    // stays a legacy nullable STRING, per KIP-482) plus tagged fields
    if (isFlexible(h.apiKey, h.apiVersion)) r.tags()
    h
  }

  def writeRequestHeader(w: Writer, h: RequestHeader): Unit = {
    w.i16(h.apiKey).i16(h.apiVersion).i32(h.correlationId).str(h.clientId)
    if (isFlexible(h.apiKey, h.apiVersion)) w.tags()
    ()
  }

  /** Post-KIP-482 flexible request versions this stack speaks:
    * ApiVersions v3+, Produce v9+, Fetch v12+. Flexible responses use
    * header v1 (correlation id + tagged fields) — EXCEPT ApiVersions,
    * whose response header stays v0 so a client can always parse the
    * version-negotiation reply. */
  def isFlexible(apiKey: Short, version: Short): Boolean =
    (apiKey == ApiVersions && version >= 3) ||
      (apiKey == ApiProduce && version >= 9) ||
      (apiKey == ApiFetch && version >= 12)

  // ---- magic-1 MessageSet ----
  /** Encode records as a v1 MessageSet with the given base offsets
    * (each record's `offset` field is used verbatim). */
  def encodeMessageSet(records: Seq[Record]): Array[Byte] = {
    val w = new Writer
    records.foreach { rec =>
      val body = new Writer
      body.i8(1) // magic 1
      body.i8(0) // attributes: no compression
      body.i64(rec.timestampMs)
      body.bytes(rec.key)
      body.bytes(rec.value)
      val bodyBytes = body.result()
      val crc = new CRC32
      crc.update(bodyBytes)
      w.i64(rec.offset)
      w.i32(4 + bodyBytes.length) // message size: crc + body
      w.i32(crc.getValue.toInt)
      w.raw(bodyBytes)
    }
    w.result()
  }

  /** Decode a v1 (or v0) MessageSet; tolerates a trailing partial
    * message (the protocol allows brokers to return one). */
  def decodeMessageSet(bytes: Array[Byte]): Seq[Record] = {
    val out = Seq.newBuilder[Record]
    val bb = ByteBuffer.wrap(bytes)
    var ok = true
    while (ok && bb.remaining >= 12) {
      val offset = bb.getLong()
      val size = bb.getInt()
      if (size < 0 || bb.remaining < size) ok = false
      else {
        val msg = new Array[Byte](size)
        bb.get(msg)
        val m = ByteBuffer.wrap(msg)
        val storedCrc = m.getInt()
        val crc = new CRC32
        crc.update(msg, 4, msg.length - 4)
        require(crc.getValue.toInt == storedCrc,
          s"CRC mismatch at offset $offset")
        val magic = m.get()
        m.get() // attributes
        val ts = if (magic >= 1) m.getLong() else -1L
        def blob(): Array[Byte] = {
          val n = m.getInt()
          if (n < 0) null
          else {
            val b = new Array[Byte](n)
            m.get(b)
            b
          }
        }
        out += Record(blob(), blob(), ts, offset)
      }
    }
    out.result()
  }

  // ---- magic-2 RecordBatch (the modern Kafka 3/4 format) ----

  /** Zigzag varint append (the v2 record body integer encoding). */
  def writeVarLong(w: Writer, v: Long): Unit = {
    var z = (v << 1) ^ (v >> 63) // zigzag
    while ((z & ~0x7fL) != 0L) {
      w.i8(((z & 0x7f) | 0x80).toByte)
      z >>>= 7
    }
    w.i8(z.toByte)
  }

  def readVarLong(bb: ByteBuffer): Long = {
    var z = 0L
    var shift = 0
    var b = 0
    do {
      b = bb.get() & 0xff
      z |= (b & 0x7fL) << shift
      shift += 7
      require(shift <= 70, "varlong too long")
    } while ((b & 0x80) != 0)
    (z >>> 1) ^ -(z & 1L) // un-zigzag
  }

  def readVarInt(bb: ByteBuffer): Int = readVarLong(bb).toInt

  /** Encode records as ONE v2 RecordBatch. Record offsets are encoded
    * as deltas from `baseOffset`; timestamps as deltas from the first
    * record's. CRC32C covers attributes..end (everything after the crc
    * field), per the RecordBatch spec. */
  def encodeRecordBatch(records: Seq[Record], baseOffset: Long): Array[Byte] = {
    require(records.nonEmpty, "empty record batch")
    val baseTs = records.head.timestampMs
    val maxTs = records.map(_.timestampMs).max
    // offset deltas: when the records carry real assigned offsets
    // (broker fetch path: ascending, anchored at baseOffset) PRESERVE
    // them — a compacted log's surviving batch keeps its original
    // offsets, with gaps. Producer-side records (no meaningful
    // offsets) fall back to positional deltas, as a producer batch is
    // always dense.
    val ownOffsets = records.head.offset == baseOffset &&
      records.iterator.sliding(2).withPartial(false)
        .forall(p => p(1).offset > p(0).offset)
    def delta(rec: Record, i: Int): Long =
      if (ownOffsets) rec.offset - baseOffset else i.toLong
    // batch body from `attributes` onward (the CRC32C coverage)
    val body = new Writer
    body.i16(0) // attributes: no compression, CREATE_TIME, non-txn
    body.i32(delta(records.last, records.length - 1).toInt) // lastOffsetDelta
    body.i64(baseTs)
    body.i64(maxTs)
    body.i64(-1L) // producerId (non-idempotent)
    body.i16(-1) // producerEpoch
    body.i32(-1) // baseSequence
    body.i32(records.length)
    records.zipWithIndex.foreach { case (rec, i) =>
      val rb = new Writer
      rb.i8(0) // record attributes
      writeVarLong(rb, rec.timestampMs - baseTs)
      writeVarLong(rb, delta(rec, i)) // offsetDelta
      if (rec.key == null) writeVarLong(rb, -1L)
      else { writeVarLong(rb, rec.key.length.toLong); rb.raw(rec.key) }
      if (rec.value == null) writeVarLong(rb, -1L)
      else { writeVarLong(rb, rec.value.length.toLong); rb.raw(rec.value) }
      writeVarLong(rb, 0L) // headers count
      val recBytes = rb.result()
      writeVarLong(body, recBytes.length.toLong)
      body.raw(recBytes)
    }
    val bodyBytes = body.result()
    val crc = new CRC32C
    crc.update(bodyBytes)
    val w = new Writer
    w.i64(baseOffset)
    // batchLength: bytes after this field = leaderEpoch(4) + magic(1)
    // + crc(4) + body
    w.i32(9 + bodyBytes.length)
    w.i32(-1) // partitionLeaderEpoch
    w.i8(2) // magic
    w.i32(crc.getValue.toInt)
    w.raw(bodyBytes)
    w.result()
  }

  /** Decode a sequence of v2 RecordBatches (a fetched record-set may
    * concatenate several); tolerates a trailing partial batch, rejects
    * CRC mismatches and non-v2 magic. */
  def decodeRecordBatches(bytes: Array[Byte]): Seq[Record] = {
    val out = Seq.newBuilder[Record]
    val bb = ByteBuffer.wrap(bytes)
    var ok = true
    while (ok && bb.remaining >= 12) {
      val baseOffset = bb.getLong()
      val batchLength = bb.getInt()
      if (batchLength < 9 || bb.remaining < batchLength) ok = false
      else {
        val batch = new Array[Byte](batchLength)
        bb.get(batch)
        val m = ByteBuffer.wrap(batch)
        m.getInt() // partitionLeaderEpoch
        val magic = m.get()
        require(magic == 2, s"RecordBatch magic $magic (expected 2)")
        val storedCrc = m.getInt()
        val crc = new CRC32C
        crc.update(batch, 9, batch.length - 9)
        require(crc.getValue.toInt == storedCrc,
          s"RecordBatch CRC32C mismatch at baseOffset $baseOffset")
        m.getShort() // attributes (no compression supported here)
        m.getInt() // lastOffsetDelta
        val baseTs = m.getLong()
        m.getLong() // maxTimestamp
        m.getLong() // producerId
        m.getShort() // producerEpoch
        m.getInt() // baseSequence
        val n = m.getInt()
        (0 until n).foreach { _ =>
          val len = readVarInt(m)
          val end = m.position() + len
          m.get() // record attributes
          val tsDelta = readVarLong(m)
          val offDelta = readVarLong(m)
          def vblob(): Array[Byte] = {
            val sz = readVarInt(m)
            if (sz < 0) null
            else {
              val b = new Array[Byte](sz)
              m.get(b)
              b
            }
          }
          val key = vblob()
          val value = vblob()
          val nHeaders = readVarInt(m)
          (0 until nHeaders).foreach { _ => vblob(); vblob() } // skip
          require(m.position() == end,
            s"record length mismatch: at ${m.position()} expected $end")
          out += Record(key, value, baseTs + tsDelta, baseOffset + offDelta)
        }
      }
    }
    out.result()
  }
}
