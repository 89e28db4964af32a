package graft.streaming

import java.io.{ByteArrayOutputStream, DataInputStream, DataOutputStream}
import java.nio.charset.StandardCharsets.UTF_8

/** Pulsar binary protocol wire layer — the analog of the reference's
  * `pinot-plugins/pinot-stream-ingestion/pinot-pulsar` plugin
  * (`PulsarPartitionLevelConsumer.java` — a Reader at a MessageId;
  * `PulsarStreamMetadataProvider.java` — partition count + offsets;
  * `PulsarConfig.java` — prop surface). The container ships no Pulsar
  * client jars (the round-11/12 environment-bounded exclusion), so —
  * exactly like the Kafka and Kinesis paths — this speaks the PUBLIC
  * wire protocol directly: 4-byte-length frames carrying a protobuf
  * `BaseCommand` (message shapes and field numbers transcribed from
  * the published `pulsar-common/src/main/proto/PulsarApi.proto`;
  * `BaseCommand`'s sub-command field number equals its `Type` enum
  * value by the proto's own design), with broker→client MESSAGE
  * frames carrying `[0x0e01][CRC32C][metadataSize][MessageMetadata]
  * [payload]` where the checksum covers everything after itself.
  *
  * Commands implemented — exactly the subset the reference's
  * partition-level consumer exercises through the SDK Reader:
  * CONNECT/CONNECTED, PARTITIONED_METADATA(_RESPONSE),
  * SUBSCRIBE (non-durable, start MessageId — the Reader model) /
  * SUCCESS, FLOW, MESSAGE, GET_LAST_MESSAGE_ID(_RESPONSE), ACK,
  * CLOSE_CONSUMER, PING/PONG, ERROR. Protobuf is hand-rolled
  * (varint / length-delimited only — every field this subset needs);
  * reads reuse [[graft.sources.WireProto.rawFields]].
  */
object PulsarWire {

  // BaseCommand.Type values == the sub-command field numbers
  // (PulsarApi.proto's documented invariant)
  final val CONNECT = 2
  final val CONNECTED = 3
  final val SUBSCRIBE = 4
  final val MESSAGE = 9
  final val ACK = 10
  final val FLOW = 11
  final val SUCCESS = 13
  final val ERROR = 14
  final val CLOSE_CONSUMER = 16
  final val PING = 18
  final val PONG = 19
  final val PARTITIONED_METADATA = 21
  final val PARTITIONED_METADATA_RESPONSE = 22
  final val REACHED_END_OF_TOPIC = 27
  final val SEEK = 28
  final val GET_LAST_MESSAGE_ID = 29
  final val GET_LAST_MESSAGE_ID_RESPONSE = 30

  /** MessageId = (ledgerId, entryId[, batchIndex]); ordering is
    * lexicographic over the triple — the reference's
    * `PulsarUtils.java:121-128` does exactly this batch-index
    * arithmetic via `BatchMessageIdImpl`. `batch = -1` is a whole
    * (non-batched) entry; batch elements of one entry share
    * (ledger, entry) and order by index. `Earliest` = (-1, -1) —
    * before every real id (matches `MessageId.earliest`). */
  final case class MsgId(ledger: Long, entry: Long, batch: Int = -1) {
    def <=(o: MsgId): Boolean =
      ledger < o.ledger || (ledger == o.ledger &&
        (entry < o.entry || (entry == o.entry && batch <= o.batch)))
    def <(o: MsgId): Boolean = this <= o && this != o
    /** This id as a RANGE BOUND: `batch = -1` on a bound means "the
      * whole entry" (a non-batched entry, or a batched tip whose
      * GetLastMessageIdResponse omitted batch_index — round-13
      * ADVICE), so widen it past every batch element. Ids with a
      * concrete batch index are returned unchanged. Both bounds of a
      * planned range must be widened the same way, or the widened
      * inclusive end of one range and the unwidened exclusive start
      * of the next would deliver the entry's elements twice. */
    def endBound: MsgId = if (batch < 0) copy(batch = Int.MaxValue) else this
    override def toString =
      if (batch < 0) s"$ledger:$entry" else s"$ledger:$entry:$batch"
  }
  object MsgId {
    val Earliest: MsgId = MsgId(-1L, -1L)
    def parse(s: String): MsgId = s.split(":") match {
      case Array(l, e) => MsgId(l.toLong, e.toLong)
      case Array(l, e, b) => MsgId(l.toLong, e.toLong, b.toInt)
      case _ => throw new IllegalArgumentException(s"bad MessageId <$s>")
    }
  }

  // ------------------------------------------------ protobuf writing

  /** Minimal protobuf writer: varint (wire 0) and length-delimited
    * (wire 2) cover every field in the command subset. */
  final class Pb {
    private[PulsarWire] val out = new ByteArrayOutputStream
    def varintRaw(v0: Long): Unit = {
      var v = v0
      while ((v & ~0x7fL) != 0) { out.write(((v & 0x7f) | 0x80).toInt); v >>>= 7 }
      out.write(v.toInt)
    }
    private def tag(field: Int, wire: Int): Unit = varintRaw((field << 3) | wire)
    def int(field: Int, v: Long): this.type = { tag(field, 0); varintRaw(v); this }
    def bytes(field: Int, b: Array[Byte]): this.type = {
      tag(field, 2); varintRaw(b.length); out.write(b); this
    }
    def str(field: Int, s: String): this.type = bytes(field, s.getBytes(UTF_8))
    def msg(field: Int)(f: Pb => Unit): this.type = {
      val inner = new Pb; f(inner); bytes(field, inner.toBytes)
    }
    def toBytes: Array[Byte] = out.toByteArray
  }

  private def msgId(field: Int, id: MsgId)(pb: Pb): Pb =
    pb.msg(field) { m =>
      m.int(1, id.ledger).int(2, id.entry)
      if (id.batch >= 0) m.int(4, id.batch) // batch_index
    }

  // ------------------------------------------------ protobuf reading

  /** Field-map view over [[graft.sources.WireProto.rawFields]]. */
  final case class PbR(fields: Seq[(Int, Int, Any)]) {
    def long(f: Int): Option[Long] = fields.collectFirst {
      case (`f`, 0, v: Long) => v
    }
    def bytesOf(f: Int): Option[Array[Byte]] = fields.collectFirst {
      case (`f`, 2, v: Array[Byte]) => v
    }
    def str(f: Int): Option[String] = bytesOf(f).map(new String(_, UTF_8))
    def sub(f: Int): Option[PbR] =
      bytesOf(f).map(b => PbR(graft.sources.WireProto.rawFields(b)))
  }
  def parse(bytes: Array[Byte]): PbR =
    PbR(graft.sources.WireProto.rawFields(bytes))

  def parseMsgId(p: PbR): MsgId =
    MsgId(p.long(1).getOrElse(-1L), p.long(2).getOrElse(-1L),
      p.long(4).map(_.toInt).getOrElse(-1)) // batch_index

  // ------------------------------------------------ command builders

  def cmdConnect(clientVersion: String, authToken: Option[String]): Array[Byte] = {
    val pb = new Pb().int(1, CONNECT)
    pb.msg(CONNECT) { c =>
      c.str(1, clientVersion).int(4, 6) // protocol_version
      authToken.foreach { t =>
        c.bytes(3, t.getBytes(UTF_8)).str(5, "token")
      }
    }.toBytes
  }

  def cmdConnected(serverVersion: String): Array[Byte] =
    new Pb().int(1, CONNECTED)
      .msg(CONNECTED)(_.str(1, serverVersion).int(2, 6)).toBytes

  /** Non-durable exclusive subscription at a start MessageId — the
    * wire form of the SDK Reader the reference's consumer holds
    * (`PulsarPartitionLevelConsumer.java:49-50`); delivery begins
    * strictly AFTER `start`. */
  def cmdSubscribe(topic: String, subscription: String, consumerId: Long,
      requestId: Long, start: MsgId): Array[Byte] = {
    val pb = new Pb().int(1, SUBSCRIBE)
    pb.msg(SUBSCRIBE) { s =>
      s.str(1, topic).str(2, subscription)
        .int(3, 0) // SubType Exclusive
        .int(4, consumerId).int(5, requestId)
        .int(8, 0) // durable = false: a Reader, not a subscription
      msgId(9, start)(s)
    }.toBytes
  }

  def cmdFlow(consumerId: Long, permits: Int): Array[Byte] =
    new Pb().int(1, FLOW)
      .msg(FLOW)(_.int(1, consumerId).int(2, permits)).toBytes

  def cmdSuccess(requestId: Long): Array[Byte] =
    new Pb().int(1, SUCCESS).msg(SUCCESS)(_.int(1, requestId)).toBytes

  def cmdError(requestId: Long, code: Int, msg: String): Array[Byte] =
    new Pb().int(1, ERROR)
      .msg(ERROR)(_.int(1, requestId).int(2, code).str(3, msg)).toBytes

  def cmdAck(consumerId: Long, id: MsgId): Array[Byte] = {
    val pb = new Pb().int(1, ACK)
    pb.msg(ACK) { a =>
      a.int(1, consumerId).int(2, 0) // AckType Individual
      msgId(3, id)(a)
    }.toBytes
  }

  def cmdCloseConsumer(consumerId: Long, requestId: Long): Array[Byte] =
    new Pb().int(1, CLOSE_CONSUMER)
      .msg(CLOSE_CONSUMER)(_.int(1, consumerId).int(2, requestId)).toBytes

  def cmdPing(): Array[Byte] = new Pb().int(1, PING).msg(PING)(_ => ()).toBytes
  def cmdPong(): Array[Byte] = new Pb().int(1, PONG).msg(PONG)(_ => ()).toBytes

  def cmdPartitionedMetadata(topic: String, requestId: Long): Array[Byte] =
    new Pb().int(1, PARTITIONED_METADATA)
      .msg(PARTITIONED_METADATA)(_.str(1, topic).int(2, requestId)).toBytes

  def cmdPartitionedMetadataResponse(partitions: Int, requestId: Long): Array[Byte] =
    new Pb().int(1, PARTITIONED_METADATA_RESPONSE)
      .msg(PARTITIONED_METADATA_RESPONSE)(
        _.int(1, partitions).int(2, requestId).int(3, 0)).toBytes

  def cmdGetLastMessageId(consumerId: Long, requestId: Long): Array[Byte] =
    new Pb().int(1, GET_LAST_MESSAGE_ID)
      .msg(GET_LAST_MESSAGE_ID)(_.int(1, consumerId).int(2, requestId)).toBytes

  def cmdGetLastMessageIdResponse(id: MsgId, requestId: Long): Array[Byte] = {
    val pb = new Pb().int(1, GET_LAST_MESSAGE_ID_RESPONSE)
    pb.msg(GET_LAST_MESSAGE_ID_RESPONSE) { r =>
      msgId(1, id)(r); r.int(2, requestId)
    }.toBytes
  }

  def cmdMessage(consumerId: Long, id: MsgId): Array[Byte] = {
    val pb = new Pb().int(1, MESSAGE)
    pb.msg(MESSAGE) { m => m.int(1, consumerId); msgId(2, id)(m) }.toBytes
  }

  /** MessageMetadata for payload frames (PulsarApi.proto:
    * producer_name=1, sequence_id=2, publish_time=3, partition_key=6,
    * compression=8, uncompressed_size=9, num_messages_in_batch=11,
    * event_time=12). `numInBatch >= 0` marks a BATCHED payload;
    * `compression` is the CompressionType ordinal (NONE=0, LZ4=1,
    * ZLIB=2, ZSTD=3, SNAPPY=4). */
  def messageMetadata(producerName: String, sequenceId: Long,
      publishTimeMs: Long, partitionKey: Option[String],
      numInBatch: Int = -1, compression: Int = 0,
      uncompressedSize: Int = -1): Array[Byte] = {
    val pb = new Pb()
    pb.str(1, producerName).int(2, sequenceId).int(3, publishTimeMs)
    partitionKey.foreach(pb.str(6, _))
    if (compression != 0) pb.int(8, compression)
    if (uncompressedSize >= 0) pb.int(9, uncompressedSize)
    if (numInBatch >= 0) pb.int(11, numInBatch)
    pb.toBytes
  }

  /** SingleMessageMetadata (PulsarApi.proto: properties=1,
    * partition_key=2, payload_size=3, event_time=5, sequence_id=8) —
    * one per element of a batched payload; the batch body is
    * N × `[4-byte metaSize][SingleMessageMetadata][payload]`. */
  def singleMessageMetadata(partitionKey: Option[String],
      payloadSize: Int, sequenceId: Long): Array[Byte] = {
    val pb = new Pb()
    partitionKey.foreach(pb.str(2, _))
    pb.int(3, payloadSize).int(8, sequenceId)
    pb.toBytes
  }

  /** Pack batch elements into the batched-payload body. */
  def packBatch(elems: Seq[(Option[String], Array[Byte], Long)]): Array[Byte] = {
    val out = new ByteArrayOutputStream
    val dos = new DataOutputStream(out)
    elems.foreach { case (key, payload, seqId) =>
      val meta = singleMessageMetadata(key, payload.length, seqId)
      dos.writeInt(meta.length)
      dos.write(meta)
      dos.write(payload)
    }
    out.toByteArray
  }

  /** Unpack a batched payload into (singleMeta, elementPayload) pairs. */
  def unpackBatch(payload: Array[Byte], n: Int): Seq[(PbR, Array[Byte])] = {
    val bb = java.nio.ByteBuffer.wrap(payload)
    (0 until n).map { _ =>
      val metaSize = bb.getInt
      val meta = new Array[Byte](metaSize)
      bb.get(meta)
      val m = parse(meta)
      val size = m.long(3).getOrElse(
        throw new java.io.IOException("single metadata without payload_size"))
        .toInt
      val body = new Array[Byte](size)
      bb.get(body)
      (m, body)
    }
  }

  /** Decompress a payload per MessageMetadata.compression — the SDK
    * the reference wraps does this transparently, so wire parity
    * requires it. NONE=0, LZ4=1, ZLIB=2, ZSTD=3, SNAPPY=4 (the
    * published CompressionType enum). */
  def decompress(compression: Int, payload: Array[Byte],
      uncompressedSize: Int): Array[Byte] = compression match {
    case 0 => payload
    case 1 => // LZ4 (frame-less block, size-prefixed by the metadata)
      val dec = net.jpountz.lz4.LZ4Factory.fastestInstance().fastDecompressor()
      dec.decompress(payload, 0, uncompressedSize)
    case 2 => // ZLIB
      val inf = new java.util.zip.Inflater()
      inf.setInput(payload)
      val out = new Array[Byte](uncompressedSize)
      var off = 0
      while (off < uncompressedSize && !inf.finished())
        off += inf.inflate(out, off, uncompressedSize - off)
      inf.end()
      if (off != uncompressedSize)
        throw new java.io.IOException(s"zlib short inflate: $off/$uncompressedSize")
      out
    case 3 => com.github.luben.zstd.Zstd
      .decompress(payload, uncompressedSize)
    case 4 => org.xerial.snappy.Snappy.uncompress(payload)
    case other =>
      throw new java.io.IOException(s"unsupported CompressionType $other")
  }

  /** Compress for the mock broker side (same enum). */
  def compress(compression: Int, payload: Array[Byte]): Array[Byte] =
    compression match {
      case 0 => payload
      case 1 => net.jpountz.lz4.LZ4Factory.fastestInstance()
        .fastCompressor().compress(payload)
      case 2 =>
        val d = new java.util.zip.Deflater()
        d.setInput(payload); d.finish()
        val buf = new Array[Byte](payload.length + 64)
        val n = d.deflate(buf)
        d.end()
        java.util.Arrays.copyOf(buf, n)
      case 3 => com.github.luben.zstd.Zstd.compress(payload)
      case 4 => org.xerial.snappy.Snappy.compress(payload)
      case other =>
        throw new IllegalArgumentException(s"CompressionType $other")
    }

  // ------------------------------------------------ framing

  /** `[totalSize][cmdSize][cmd]` — the simple command frame. */
  def writeFrame(out: DataOutputStream, cmd: Array[Byte]): Unit = {
    out.writeInt(4 + cmd.length)
    out.writeInt(cmd.length)
    out.write(cmd)
    out.flush()
  }

  private val MagicCrc = 0x0e01.toShort

  /** `[totalSize][cmdSize][cmd][0x0e01][crc32c][metaSize][meta]
    * [payload]` — the broker's MESSAGE frame; the CRC32C covers
    * `[metaSize][meta][payload]`. */
  def writePayloadFrame(out: DataOutputStream, cmd: Array[Byte],
      metadata: Array[Byte], payload: Array[Byte]): Unit = {
    val body = new ByteArrayOutputStream
    val bo = new DataOutputStream(body)
    bo.writeInt(metadata.length)
    bo.write(metadata)
    bo.write(payload)
    val checksummed = body.toByteArray
    val crc = new java.util.zip.CRC32C
    crc.update(checksummed)
    val total = 4 + cmd.length + 2 + 4 + checksummed.length
    out.writeInt(total)
    out.writeInt(cmd.length)
    out.write(cmd)
    out.writeShort(MagicCrc)
    out.writeInt(crc.getValue.toInt)
    out.write(checksummed)
    out.flush()
  }

  /** One decoded frame: the BaseCommand type + parsed body, and the
    * (metadata, payload) section when present. */
  final case class Frame(cmdType: Int, cmd: PbR,
      metadata: Option[PbR], payload: Option[Array[Byte]])

  /** Read one frame, verifying the payload CRC32C when present. */
  def readFrame(in: DataInputStream): Frame = {
    val total = in.readInt()
    val cmdSize = in.readInt()
    val cmdBytes = new Array[Byte](cmdSize)
    in.readFully(cmdBytes)
    val cmd = parse(cmdBytes)
    val cmdType = cmd.long(1).getOrElse(0L).toInt
    var rest = total - 4 - cmdSize
    if (rest > 0) {
      val magic = in.readShort()
      val expectCrc = in.readInt()
      rest -= 6
      val checksummed = new Array[Byte](rest)
      in.readFully(checksummed)
      if (magic != MagicCrc)
        throw new java.io.IOException(f"bad payload magic 0x$magic%04x")
      val crc = new java.util.zip.CRC32C
      crc.update(checksummed)
      if (crc.getValue.toInt != expectCrc)
        throw new java.io.IOException("payload CRC32C mismatch")
      val bb = java.nio.ByteBuffer.wrap(checksummed)
      val metaSize = bb.getInt
      val meta = new Array[Byte](metaSize)
      bb.get(meta)
      val payload = new Array[Byte](bb.remaining())
      bb.get(payload)
      Frame(cmdType, cmd, Some(parse(meta)), Some(payload))
    } else Frame(cmdType, cmd, None, None)
  }

  /** The reference's partitioned-topic naming
    * (`TopicName.getTopicPartitionNameString`). */
  def partitionTopic(topic: String, partition: Int): String =
    s"$topic-partition-$partition"
}

/** One broker connection: CONNECT handshake, then request/response
  * commands and MESSAGE consumption over a blocking socket. PINGs are
  * answered transparently. `readTimeoutMs` bounds every read so a
  * stalled broker cannot hang the driver (the Kinesis lesson). */
final class PulsarWireClient(host: String, port: Int,
    authToken: Option[String] = None,
    readTimeoutMs: Int = WireSocket.DefaultReadTimeoutMs) {
  import PulsarWire._

  private val socket = WireSocket.connect(host, port, readTimeoutMs)
  import socket.{in, out}
  private val reqIds = new java.util.concurrent.atomic.AtomicLong(1)

  locally {
    writeFrame(out, cmdConnect("graft-pulsar-wire/1.0", authToken))
    val f = next()
    if (f.cmdType == ERROR)
      throw new java.io.IOException("Pulsar CONNECT rejected: " +
        f.cmd.sub(ERROR).flatMap(_.str(3)).getOrElse(""))
    require(f.cmdType == CONNECTED, s"expected CONNECTED, got ${f.cmdType}")
  }

  def nextRequestId(): Long = reqIds.getAndIncrement()

  /** Read the next frame, transparently answering PING. */
  def next(): Frame = {
    var f = readFrame(in)
    while (f.cmdType == PING) { writeFrame(out, cmdPong()); f = readFrame(in) }
    f
  }

  private def await(expectType: Int, requestIdField: Int, requestId: Long): Frame = {
    var f = next()
    while (!(f.cmdType == expectType &&
        f.cmd.sub(expectType).flatMap(_.long(requestIdField))
          .contains(requestId))) {
      if (f.cmdType == ERROR &&
          f.cmd.sub(ERROR).flatMap(_.long(1)).contains(requestId))
        throw new java.io.IOException("Pulsar request failed: " +
          f.cmd.sub(ERROR).flatMap(_.str(3)).getOrElse(""))
      f = next()
    }
    f
  }

  def partitionedMetadata(topic: String): Int = {
    val rid = nextRequestId()
    writeFrame(out, cmdPartitionedMetadata(topic, rid))
    val f = await(PARTITIONED_METADATA_RESPONSE, 2, rid)
    f.cmd.sub(PARTITIONED_METADATA_RESPONSE)
      .flatMap(_.long(1)).getOrElse(0L).toInt
  }

  /** Reader-style subscribe: non-durable, delivery strictly after
    * `start`. */
  def subscribe(topic: String, subscription: String, consumerId: Long,
      start: MsgId): Unit = {
    val rid = nextRequestId()
    writeFrame(out, cmdSubscribe(topic, subscription, consumerId, rid, start))
    await(SUCCESS, 1, rid)
  }

  def flow(consumerId: Long, permits: Int): Unit =
    writeFrame(out, cmdFlow(consumerId, permits))

  def getLastMessageId(consumerId: Long): MsgId = {
    val rid = nextRequestId()
    writeFrame(out, cmdGetLastMessageId(consumerId, rid))
    val f = await(GET_LAST_MESSAGE_ID_RESPONSE, 2, rid)
    f.cmd.sub(GET_LAST_MESSAGE_ID_RESPONSE).flatMap(_.sub(1))
      .map(parseMsgId).getOrElse(MsgId.Earliest)
  }

  def ack(consumerId: Long, id: MsgId): Unit =
    writeFrame(out, cmdAck(consumerId, id))

  def closeConsumer(consumerId: Long): Unit = {
    val rid = nextRequestId()
    writeFrame(out, cmdCloseConsumer(consumerId, rid))
    await(SUCCESS, 1, rid)
  }

  def close(): Unit =
    try socket.close() catch { case _: Throwable => () }
}
