package graft.streaming

import java.net.{InetAddress, ServerSocket, Socket}

import scala.collection.mutable

import KafkaWire._

/** Minimal Kafka broker speaking the real wire protocol over TCP —
  * enough surface for a partition-level consumer/producer: ApiVersions,
  * Metadata v0, Produce v0, Fetch v0, ListOffsets v0. Backs the
  * engine's socket streaming path (the role
  * `RealtimeSegmentDataManager.java:129`'s broker plays for the
  * reference): the topic log lives in memory per (topic, partition)
  * with dense offsets; `snapshotTo`/`loadFrom` persist it as the same
  * parquet layout `KafkaSource.FileTopicLog` uses, so the file log and
  * the socket broker are two transports over one log format.
  *
  * One thread per connection (a test/tooling broker, not a server
  * farm); all log access synchronizes on the topic map. Offsets are
  * assigned at append, fetches are served from any offset ≥ the log
  * start — the consumer contract Structured Streaming's offset
  * tracking needs for exactly-once replay.
  */
final class KafkaWireBroker(host: String = "127.0.0.1",
    numPartitions: Int = 2) {

  // partition count is LIVE: Kafka topics can only grow partitions
  // (kafka-topics --alter --partitions N), and consumers discover the
  // growth from Metadata — the topology change the source's
  // per-trigger metadata refetch handles
  @volatile private var partitionCount: Int = numPartitions
  def addPartitions(k: Int): Unit = { partitionCount += k }

  private val logs =
    mutable.Map[(String, Int), mutable.ArrayBuffer[Record]]()
  // Kafka tracks the log start offset EXPLICITLY: compaction removes
  // records without advancing it; deletion/retention advances it.
  // Consumers use the distinction (ListOffsets ts=-2) to tell
  // compacted gaps from truncated-away data.
  private val logStarts = mutable.Map[(String, Int), Long]()
  private var server: ServerSocket = _
  @volatile private var running = false
  private val threads = mutable.ArrayBuffer[Thread]()

  def port: Int = server.getLocalPort
  def bootstrap: String = s"$host:$port"

  def start(): KafkaWireBroker = {
    server = new ServerSocket(0, 16, InetAddress.getByName(host))
    running = true
    val acceptor = new Thread(() => {
      while (running) {
        try {
          val sock = server.accept()
          val t = new Thread(() => serve(sock), "kafka-wire-conn")
          t.setDaemon(true)
          t.start()
          threads.synchronized { threads += t }
        } catch { case _: Throwable => () } // closed
      }
    }, "kafka-wire-acceptor")
    acceptor.setDaemon(true)
    acceptor.start()
    this
  }

  def close(): Unit = {
    running = false
    if (server != null) server.close()
  }

  /** Direct append (producer-side tooling and tests). Returns the
    * record's assigned offset. */
  def append(topic: String, partition: Int, key: Array[Byte],
      value: Array[Byte], tsMs: Long): Long = logs.synchronized {
    val log = logs.getOrElseUpdate((topic, partition),
      mutable.ArrayBuffer.empty)
    val off = if (log.isEmpty) 0L else log.last.offset + 1
    log += Record(key, value, tsMs, off)
    off
  }

  def endOffset(topic: String, partition: Int): Long = logs.synchronized {
    logs.get((topic, partition))
      .map(l => if (l.isEmpty) 0L else l.last.offset + 1).getOrElse(0L)
  }

  /** Simulate log compaction: drop records `retain` rejects, KEEPING
    * the survivors' assigned offsets — as Kafka compaction does, so a
    * fetch at a compacted offset returns the next surviving batch. */
  def compact(topic: String, partition: Int,
      retain: Record => Boolean): Unit = logs.synchronized {
    logs.get((topic, partition)).foreach { log =>
      val kept = log.filter(retain)
      log.clear()
      log ++= kept
    }
  }

  /** Simulate retention deletion: drop records below `beforeOffset`
    * AND advance the log start offset — unlike [[compact]], a fetch
    * planned below the new start must fail the replay contract. */
  def truncate(topic: String, partition: Int,
      beforeOffset: Long): Unit = logs.synchronized {
    logs.get((topic, partition)).foreach { log =>
      val kept = log.filter(_.offset >= beforeOffset)
      log.clear()
      log ++= kept
    }
    val cur = logStarts.getOrElse((topic, partition), 0L)
    logStarts((topic, partition)) = math.max(cur, beforeOffset)
  }

  /** Persist the in-memory log as the FileTopicLog parquet layout —
    * the two transports share one log format. */
  def snapshotTo(spark: org.apache.spark.sql.SparkSession, dir: String): Unit = {
    val entries = logs.synchronized {
      logs.toSeq.flatMap { case ((topic, part), log) =>
        log.map(r => (topic, part, r))
      }
    }
    entries.groupBy(_._1).foreach { case (topic, rows) =>
      KafkaSource.FileTopicLog.append(spark, dir, topic,
        rows.map { case (_, part, r) =>
          (r.key, r.value, part, r.offset, r.timestampMs)
        })
    }
  }

  /** Load a FileTopicLog parquet dir into the in-memory log (offsets
    * kept dense in stored order per partition). */
  def loadFrom(spark: org.apache.spark.sql.SparkSession, dir: String): Unit = {
    val rows = spark.read.schema(KafkaSource.RecordSchema).parquet(dir)
      .select("key", "value", "topic", "partition", "offset", "timestamp")
      .collect()
      .sortBy(r => (r.getString(2), r.getInt(3), r.getLong(4)))
    logs.synchronized {
      rows.foreach { r =>
        val log = logs.getOrElseUpdate((r.getString(2), r.getInt(3)),
          mutable.ArrayBuffer.empty)
        log += Record(
          if (r.isNullAt(0)) null else r.getAs[Array[Byte]](0),
          if (r.isNullAt(1)) null else r.getAs[Array[Byte]](1),
          r.getTimestamp(5).getTime, log.length.toLong)
      }
    }
  }

  private def topicsOf: Seq[String] = logs.synchronized {
    logs.keys.map(_._1).toSeq.distinct.sorted
  }

  private def serve(sock: Socket): Unit = {
    val conn = WireSocket.accepted(sock)
    import conn.{in, out}
    try {
      while (running) {
        val frame = readFrame(in)
        val r = new Reader(frame)
        val h = readRequestHeader(r)
        val w = new Writer
        w.i32(h.correlationId)
        // flexible responses use header v1 (tagged fields after the
        // correlation id) — except ApiVersions, always header v0
        if (isFlexible(h.apiKey, h.apiVersion) && h.apiKey != ApiVersions)
          w.tags()
        h.apiKey match {
          case ApiVersions =>
            if (h.apiVersion >= 3) apiVersionsV3(r, w) else apiVersions(w)
          case ApiMetadata => metadata(r, w)
          case ApiProduce =>
            if (h.apiVersion >= 9) produceFlexible(r, w)
            else produce(r, w, h.apiVersion)
          case ApiFetch =>
            if (h.apiVersion >= 12) fetchFlexible(r, w)
            else fetch(r, w, h.apiVersion)
          case ApiListOffsets => listOffsets(r, w, h.apiVersion)
          case other =>
            throw new UnsupportedOperationException(s"api key $other")
        }
        writeFrame(out, w.result())
      }
    } catch { case _: Throwable => () } // connection closed
    finally conn.close()
  }

  // (api key, min, max): Produce v3/Fetch v4 carry magic-2 record
  // batches (the pre-flexible modern dialect); Produce v9/Fetch v12/
  // ApiVersions v3 are the post-KIP-482 FLEXIBLE versions (compact
  // strings, tagged fields) current clients negotiate first
  private val supportedApis = Seq((ApiProduce, 0, 9), (ApiFetch, 0, 12),
    (ApiListOffsets, 0, 1), (ApiMetadata, 0, 0), (ApiVersions, 0, 3))

  private def apiVersions(w: Writer): Unit = {
    w.i16(0) // no error
    w.i32(supportedApis.size)
    supportedApis.foreach { case (k, lo, hi) =>
      w.i16(k).i16(lo.toShort).i16(hi.toShort)
    }
    ()
  }

  /** ApiVersions v3 (KIP-511): the request carries the client software
    * name/version as compact strings + tagged fields; the response is
    * flexible (compact api-key array, per-entry and trailing tagged
    * fields) under a v0 header. */
  private def apiVersionsV3(r: Reader, w: Writer): Unit = {
    r.compactStr() // client_software_name
    r.compactStr() // client_software_version
    r.tags()
    w.i16(0) // no error
    w.compactArray(supportedApis.size)
    supportedApis.foreach { case (k, lo, hi) =>
      w.i16(k).i16(lo.toShort).i16(hi.toShort).tags()
    }
    w.i32(0) // throttle_time_ms
    w.tags()
    ()
  }

  /** Produce v9 (flexible): compact strings/bytes/arrays + tagged
    * fields throughout; records arrive as magic-2 batches. */
  private def produceFlexible(r: Reader, w: Writer): Unit = {
    r.compactStr() // transactional_id
    r.i16() // acks
    r.i32() // timeout
    val acks = Seq.newBuilder[(String, Int, Long)]
    val nTopics = r.compactArrayLen()
    (0 until nTopics).foreach { _ =>
      val topic = r.compactStr()
      val nParts = r.compactArrayLen()
      (0 until nParts).foreach { _ =>
        val partition = r.i32()
        val setBytes = r.compactBytes()
        r.tags()
        val records =
          if (setBytes == null) Nil else decodeRecordBatches(setBytes)
        val base = logs.synchronized {
          val log = logs.getOrElseUpdate((topic, partition),
            mutable.ArrayBuffer.empty)
          val b = if (log.isEmpty) 0L else log.last.offset + 1
          records.zipWithIndex.foreach { case (rec, i) =>
            log += rec.copy(offset = b + i)
          }
          b
        }
        acks += ((topic, partition, base))
      }
      r.tags()
    }
    r.tags()
    val byTopic = acks.result().groupBy(_._1).toSeq.sortBy(_._1)
    w.compactArray(byTopic.size)
    byTopic.foreach { case (topic, parts) =>
      w.compactStr(topic)
      w.compactArray(parts.size)
      parts.foreach { case (_, p, base) =>
        w.i32(p).i16(0).i64(base)
        w.i64(-1L) // log_append_time (CREATE_TIME)
        w.i64(0L) // log_start_offset
        w.compactArray(0) // record_errors: none
        w.compactStr(null) // error_message
        w.tags()
      }
      w.tags()
    }
    w.i32(0) // throttle_time_ms
    w.tags()
    ()
  }

  /** Fetch v12 (flexible — the last topic-NAME-keyed fetch version):
    * session fields read and ignored (sessionless, session_id 0),
    * records served as magic-2 batches in compact bytes. */
  private def fetchFlexible(r: Reader, w: Writer): Unit = {
    r.i32() // replica_id
    r.i32() // max_wait_ms
    r.i32() // min_bytes
    val maxBytesTotal = r.i32()
    r.i8() // isolation_level
    r.i32() // session_id
    r.i32() // session_epoch
    val results =
      (0 until r.compactArrayLen()).map { _ =>
        val topic = r.compactStr()
        val parts = (0 until r.compactArrayLen()).map { _ =>
          val partition = r.i32()
          r.i32() // current_leader_epoch
          val fetchOffset = r.i64()
          r.i32() // last_fetched_epoch
          r.i64() // log_start_offset
          val maxBytes = math.min(r.i32(), maxBytesTotal)
          r.tags()
          val (slice, hw) = sliceLog(topic, partition, fetchOffset, maxBytes)
          (partition, hw, slice)
        }
        r.tags()
        (topic, parts)
      }
    (0 until r.compactArrayLen()).foreach { _ => // forgotten_topics_data
      r.compactStr()
      (0 until r.compactArrayLen()).foreach(_ => r.i32())
      r.tags()
    }
    r.compactStr() // rack_id
    r.tags()
    w.i32(0) // throttle_time_ms
    w.i16(0) // error_code
    w.i32(0) // session_id (sessionless)
    w.compactArray(results.size)
    results.foreach { case (topic, parts) =>
      w.compactStr(topic)
      w.compactArray(parts.size)
      parts.foreach { case (p, hw, slice) =>
        w.i32(p).i16(0).i64(hw)
        w.i64(hw) // last_stable_offset (no open txns)
        w.i64(0L) // log_start_offset
        w.compactArray(0) // aborted_transactions: none
        w.i32(-1) // preferred_read_replica
        w.compactBytes(
          if (slice.isEmpty) Array.emptyByteArray
          else encodeRecordBatch(slice, slice.head.offset))
        w.tags()
      }
      w.tags()
    }
    w.tags()
    ()
  }

  /** Up to `maxBytes` of records at or above `from` (selected by
    * record OFFSET — post-compaction offsets and positions diverge),
    * plus the high watermark. */
  private def sliceLog(topic: String, partition: Int, from: Long,
      maxBytes: Int): (Seq[Record], Long) = logs.synchronized {
    val log = logs.getOrElse((topic, partition),
      mutable.ArrayBuffer.empty[Record])
    val start = KafkaWireBroker.firstAtOrAbove(log, from)
    val sel = Seq.newBuilder[Record]
    var size = 0
    var i = start
    while (i < log.length && size < maxBytes) {
      sel += log(i)
      size += 26 + 8 +
        Option(log(i).key).map(_.length).getOrElse(0) +
        Option(log(i).value).map(_.length).getOrElse(0)
      i += 1
    }
    (sel.result(), if (log.isEmpty) 0L else log.last.offset + 1)
  }

  private def metadata(r: Reader, w: Writer): Unit = {
    val nTopics = r.i32()
    val asked =
      if (nTopics <= 0) topicsOf
      else (0 until nTopics).map(_ => r.str())
    // brokers: just this one
    w.i32(1)
    w.i32(0).str(host).i32(port)
    w.i32(asked.size)
    asked.foreach { t =>
      w.i16(0).str(t)
      val n = partitionCount
      w.i32(n)
      (0 until n).foreach { p =>
        w.i16(0).i32(p).i32(0) // error, partition, leader=broker 0
        w.i32(1).i32(0) // replicas [0]
        w.i32(1).i32(0) // isr [0]
      }
    }
    ()
  }

  private def produce(r: Reader, w: Writer, version: Short): Unit = {
    if (version >= 3) r.str() // transactional_id (v3+)
    r.i16() // acks
    r.i32() // timeout
    val nTopics = r.i32()
    val acks = Seq.newBuilder[(String, Int, Long)]
    (0 until nTopics).foreach { _ =>
      val topic = r.str()
      val nParts = r.i32()
      (0 until nParts).foreach { _ =>
        val partition = r.i32()
        val setBytes = r.blob()
        // v3+ carries magic-2 record batches; v0 the magic-1 MessageSet
        val records =
          if (version >= 3) decodeRecordBatches(setBytes)
          else decodeMessageSet(setBytes)
        val base = logs.synchronized {
          val log = logs.getOrElseUpdate((topic, partition),
            mutable.ArrayBuffer.empty)
          val b = log.length.toLong
          records.zipWithIndex.foreach { case (rec, i) =>
            log += rec.copy(offset = b + i)
          }
          b
        }
        acks += ((topic, partition, base))
      }
    }
    val byTopic = acks.result().groupBy(_._1).toSeq.sortBy(_._1)
    w.i32(byTopic.size)
    byTopic.foreach { case (topic, parts) =>
      w.str(topic)
      w.i32(parts.size)
      parts.foreach { case (_, p, base) =>
        w.i32(p).i16(0).i64(base) // partition, no error, base offset
        if (version >= 2) w.i64(-1L) // log_append_time (CREATE_TIME)
      }
    }
    if (version >= 1) w.i32(0) // throttle_time_ms
    ()
  }

  private def fetch(r: Reader, w: Writer, version: Short): Unit = {
    r.i32() // replica_id
    r.i32() // max_wait
    r.i32() // min_bytes
    if (version >= 3) r.i32() // max_bytes (whole response)
    if (version >= 4) r.i8() // isolation_level
    val nTopics = r.i32()
    val results =
      (0 until nTopics).map { _ =>
        val topic = r.str()
        val nParts = r.i32()
        val parts = (0 until nParts).map { _ =>
          val partition = r.i32()
          val fetchOffset = r.i64()
          val maxBytes = r.i32()
          val (slice, hw) = sliceLog(topic, partition, fetchOffset, maxBytes)
          val set =
            if (slice.isEmpty) Array.emptyByteArray
            else if (version >= 4)
              encodeRecordBatch(slice, slice.head.offset)
            else encodeMessageSet(slice)
          (partition, hw, set)
        }
        (topic, parts)
      }
    if (version >= 1) w.i32(0) // throttle_time_ms
    w.i32(results.size)
    results.foreach { case (topic, parts) =>
      w.str(topic)
      w.i32(parts.size)
      parts.foreach { case (p, hw, set) =>
        w.i32(p).i16(0).i64(hw)
        if (version >= 4) {
          w.i64(hw) // last_stable_offset (no open txns)
          w.i32(0) // aborted_transactions: none
        }
        w.i32(set.length).raw(set)
      }
    }
    ()
  }

  private def listOffsets(r: Reader, w: Writer, version: Short): Unit = {
    r.i32() // replica_id
    val nTopics = r.i32()
    val results = (0 until nTopics).map { _ =>
      val topic = r.str()
      val nParts = r.i32()
      val parts = (0 until nParts).map { _ =>
        val partition = r.i32()
        val ts = r.i64()
        if (version == 0) r.i32() // max_num_offsets (v0 only)
        val off = logs.synchronized {
          val log = logs.getOrElse((topic, partition),
            mutable.ArrayBuffer.empty[Record])
          if (ts == EarliestTs)
            logStarts.getOrElse((topic, partition), 0L)
          // offsets survive compaction, so the end offset is the last
          // record's offset + 1, NOT the buffer length
          else if (log.isEmpty)
            logStarts.getOrElse((topic, partition), 0L)
          else log.last.offset + 1
        }
        (partition, ts, off)
      }
      (topic, parts)
    }
    w.i32(results.size)
    results.foreach { case (topic, parts) =>
      w.str(topic)
      w.i32(parts.size)
      parts.foreach { case (p, ts, off) =>
        w.i32(p).i16(0)
        if (version == 0) w.i32(1).i64(off) // [offsets] array
        else w.i64(ts).i64(off) // v1: timestamp + single offset
      }
    }
    ()
  }
}

object KafkaWireBroker {

  /** Index of the first record whose offset is at or above `from`
    * (`log.length` if none): a binary search, valid because offsets
    * strictly increase along a partition log — `append` assigns the
    * last offset + 1, and `compact` and `truncate` only remove
    * records. The fetch path calls it under the log lock the
    * producer's `append` also takes, on logs of 10^5 records. */
  private[graft] def firstAtOrAbove(log: collection.IndexedSeq[Record],
      from: Long): Int = {
    var lo = 0
    var hi = log.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (log(mid).offset < from) lo = mid + 1 else hi = mid
    }
    lo
  }
}
