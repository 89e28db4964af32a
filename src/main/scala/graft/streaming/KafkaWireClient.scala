package graft.streaming

import KafkaWire._

/** Blocking Kafka wire-protocol client (the consumer/producer side of
  * [[KafkaWire]]'s API subset) — the partition-level connection the
  * reference holds per consuming partition
  * (`KafkaPartitionLevelConnectionHandler.java`). One socket, strictly
  * request→response; safe to use from one thread (each Spark partition
  * reader opens its own).
  *
  * `modern = true` (default) speaks the Kafka 3/4 dialect — Produce v3
  * / Fetch v4 / ListOffsets v1 with magic-2 record batches; `false`
  * falls back to the pre-flexible v0 APIs + magic-1 MessageSet (which
  * Kafka 4 brokers no longer serve). `flexible = true` upgrades to the
  * post-KIP-482 encodings current clients negotiate first — Produce v9
  * / Fetch v12 / ApiVersions v3 with compact strings, compact
  * bytes/arrays and tagged fields (header v2 requests, header v1
  * responses; ApiVersions replies stay header v0 so negotiation can
  * never deadlock on an unknown version).
  *
  * The socket is a [[WireSocket]]: `readTimeoutMs` bounds every read,
  * so a broker that accepts and never answers fails the call with
  * `SocketTimeoutException` instead of hanging the driver's
  * `latestOffset` or a fetch task. */
final class KafkaWireClient(host: String, port: Int,
    clientId: String = "graft", modern: Boolean = true,
    flexible: Boolean = false,
    readTimeoutMs: Int = WireSocket.DefaultReadTimeoutMs)
  extends AutoCloseable {

  private val sock = WireSocket.connect(host, port, readTimeoutMs)
  import sock.{in, out}
  private var correlation = 0

  private def call(apiKey: Short, version: Short = 0)
      (body: Writer => Unit): Reader = {
    correlation += 1
    val w = new Writer
    writeRequestHeader(w,
      RequestHeader(apiKey, version, correlation, clientId))
    body(w)
    writeFrame(out, w.result())
    val resp = new Reader(readFrame(in))
    val corr = resp.i32()
    require(corr == correlation, s"correlation mismatch: $corr != $correlation")
    // flexible responses carry header-v1 tagged fields — except
    // ApiVersions, which always answers under a v0 header
    if (isFlexible(apiKey, version) && apiKey != ApiVersions) resp.tags()
    resp
  }

  /** ApiVersions negotiation: (apiKey, minVersion, maxVersion) per
    * supported API. v3 (flexible, KIP-511 client-software fields) when
    * this client is flexible, v0 otherwise. */
  def apiVersions(): Seq[(Short, Short, Short)] = {
    val version: Short = if (flexible) 3 else 0
    val r = call(ApiVersions, version) { w =>
      if (flexible) {
        w.compactStr("graft")
        w.compactStr("r6")
        w.tags()
      }
      ()
    }
    val err = r.i16()
    require(err == 0, s"apiVersions error $err")
    if (flexible) {
      val n = r.compactArrayLen()
      val out = (0 until n).map { _ =>
        val t = (r.i16(), r.i16(), r.i16())
        r.tags()
        t
      }
      r.i32() // throttle_time_ms
      r.tags()
      out
    } else {
      (0 until r.i32()).map(_ => (r.i16(), r.i16(), r.i16()))
    }
  }

  /** (topic, partitionIds) pairs known to the broker. */
  def metadata(topics: Seq[String] = Nil): Seq[(String, Seq[Int])] = {
    val r = call(ApiMetadata) { w =>
      w.i32(topics.size)
      topics.foreach(w.str)
      ()
    }
    val nBrokers = r.i32()
    (0 until nBrokers).foreach { _ => r.i32(); r.str(); r.i32() }
    val nTopics = r.i32()
    (0 until nTopics).map { _ =>
      r.i16() // topic error
      val name = r.str()
      val nParts = r.i32()
      val parts = (0 until nParts).map { _ =>
        r.i16() // partition error
        val id = r.i32()
        r.i32() // leader
        (0 until r.i32()).foreach(_ => r.i32()) // replicas
        (0 until r.i32()).foreach(_ => r.i32()) // isr
        id
      }
      (name, parts)
    }
  }

  /** Produce records to one partition; returns the base offset the
    * broker assigned. Modern: Produce v3 with a magic-2 record batch;
    * flexible: Produce v9 (compact encodings + tagged fields). */
  def produce(topic: String, partition: Int, records: Seq[Record]): Long = {
    if (flexible) return produceV9(topic, partition, records)
    val version: Short = if (modern) 3 else 0
    val set =
      if (modern) encodeRecordBatch(records, 0L)
      else encodeMessageSet(records)
    val r = call(ApiProduce, version) { w =>
      if (modern) w.str(null) // transactional_id (v3+)
      w.i16(1) // acks = leader
      w.i32(30000)
      w.i32(1).str(topic)
      w.i32(1).i32(partition)
      w.i32(set.length).raw(set)
      ()
    }
    val nTopics = r.i32()
    var base = -1L
    (0 until nTopics).foreach { _ =>
      r.str()
      val nParts = r.i32()
      (0 until nParts).foreach { _ =>
        r.i32() // partition
        val err = r.i16()
        require(err == 0, s"produce error $err")
        base = r.i64()
        if (modern) r.i64() // log_append_time (v2+)
      }
    }
    if (modern) r.i32() // throttle_time_ms (v1+)
    base
  }

  private def produceV9(topic: String, partition: Int,
      records: Seq[Record]): Long = {
    val set = encodeRecordBatch(records, 0L)
    val r = call(ApiProduce, 9) { w =>
      w.compactStr(null) // transactional_id
      w.i16(1) // acks = leader
      w.i32(30000) // timeout
      w.compactArray(1).compactStr(topic)
      w.compactArray(1).i32(partition)
      w.compactBytes(set)
      w.tags() // partition
      w.tags() // topic
      w.tags() // request
      ()
    }
    var base = -1L
    (0 until r.compactArrayLen()).foreach { _ =>
      r.compactStr()
      (0 until r.compactArrayLen()).foreach { _ =>
        r.i32() // partition index
        val err = r.i16()
        require(err == 0, s"produce error $err")
        base = r.i64()
        r.i64() // log_append_time
        r.i64() // log_start_offset
        (0 until r.compactArrayLen()).foreach { _ => // record_errors
          r.i32(); r.compactStr(); r.tags()
        }
        r.compactStr() // error_message
        r.tags()
      }
      r.tags()
    }
    r.i32() // throttle_time_ms
    r.tags()
    base
  }

  /** Fetch from `offset`; returns (records, highWatermark). Modern:
    * Fetch v4, record-set decoded as magic-2 batches; flexible: Fetch
    * v12 (the last topic-name-keyed fetch, sessionless). */
  def fetch(topic: String, partition: Int, offset: Long,
      maxBytes: Int = 4 << 20): (Seq[Record], Long) = {
    if (flexible) return fetchV12(topic, partition, offset, maxBytes)
    val version: Short = if (modern) 4 else 0
    val r = call(ApiFetch, version) { w =>
      w.i32(-1) // replica_id (consumer)
      w.i32(100) // max_wait ms
      w.i32(1) // min_bytes
      if (modern) {
        w.i32(maxBytes) // max_bytes, whole response (v3+)
        w.i8(0) // isolation_level READ_UNCOMMITTED (v4+)
      }
      w.i32(1).str(topic)
      w.i32(1).i32(partition).i64(offset).i32(maxBytes)
      ()
    }
    if (modern) r.i32() // throttle_time_ms (v1+)
    var result: (Seq[Record], Long) = (Nil, 0L)
    val nTopics = r.i32()
    (0 until nTopics).foreach { _ =>
      r.str()
      val nParts = r.i32()
      (0 until nParts).foreach { _ =>
        r.i32() // partition
        val err = r.i16()
        require(err == 0, s"fetch error $err")
        val hw = r.i64()
        if (modern) {
          r.i64() // last_stable_offset (v4+)
          val nAborted = r.i32()
          (0 until math.max(0, nAborted)).foreach { _ => r.i64(); r.i64() }
        }
        val set = r.blob()
        result =
          (if (modern) decodeRecordBatches(set) else decodeMessageSet(set),
            hw)
      }
    }
    result
  }

  private def fetchV12(topic: String, partition: Int, offset: Long,
      maxBytes: Int): (Seq[Record], Long) = {
    val r = call(ApiFetch, 12) { w =>
      w.i32(-1) // replica_id (consumer)
      w.i32(100) // max_wait_ms
      w.i32(1) // min_bytes
      w.i32(maxBytes) // max_bytes, whole response
      w.i8(0) // isolation_level READ_UNCOMMITTED
      w.i32(0) // session_id (sessionless)
      w.i32(-1) // session_epoch
      w.compactArray(1).compactStr(topic)
      w.compactArray(1)
      w.i32(partition)
      w.i32(-1) // current_leader_epoch
      w.i64(offset)
      w.i32(-1) // last_fetched_epoch
      w.i64(-1L) // log_start_offset (consumers send -1)
      w.i32(maxBytes)
      w.tags() // partition
      w.tags() // topic
      w.compactArray(0) // forgotten_topics_data
      w.compactStr("") // rack_id
      w.tags()
      ()
    }
    r.i32() // throttle_time_ms
    val err0 = r.i16()
    require(err0 == 0, s"fetch error $err0")
    r.i32() // session_id
    var result: (Seq[Record], Long) = (Nil, 0L)
    (0 until r.compactArrayLen()).foreach { _ =>
      r.compactStr()
      (0 until r.compactArrayLen()).foreach { _ =>
        r.i32() // partition_index
        val err = r.i16()
        require(err == 0, s"fetch error $err")
        val hw = r.i64()
        r.i64() // last_stable_offset
        r.i64() // log_start_offset
        (0 until math.max(0, r.compactArrayLen())).foreach { _ =>
          r.i64(); r.i64(); r.tags() // aborted_transactions
        }
        r.i32() // preferred_read_replica
        val set = r.compactBytes()
        result = (if (set == null || set.isEmpty) Nil
                  else decodeRecordBatches(set), hw)
        r.tags()
      }
      r.tags()
    }
    r.tags()
    result
  }

  /** Earliest (ts = -2) or latest (ts = -1) offset of one partition.
    * Modern: ListOffsets v1 (timestamp-keyed single offset). */
  def listOffset(topic: String, partition: Int, ts: Long): Long = {
    val version: Short = if (modern) 1 else 0
    val r = call(ApiListOffsets, version) { w =>
      w.i32(-1)
      w.i32(1).str(topic)
      w.i32(1).i32(partition).i64(ts)
      if (!modern) w.i32(1) // max_num_offsets (v0 only)
      ()
    }
    var off = 0L
    val nTopics = r.i32()
    (0 until nTopics).foreach { _ =>
      r.str()
      val nParts = r.i32()
      (0 until nParts).foreach { _ =>
        r.i32()
        val err = r.i16()
        require(err == 0, s"listOffsets error $err")
        if (modern) { r.i64(); off = r.i64() } // timestamp, offset
        else {
          val n = r.i32()
          (0 until n).foreach(_ => off = r.i64())
        }
      }
    }
    off
  }

  override def close(): Unit = sock.close()
}
