package graft.schemas

import graft.functions.FlatBufReader
import org.scalatest.funsuite.AnyFunSuite

/** Wire-level lock for the hand-rolled FlatBuffers codecs: golden byte
  * structure (root uoffset, file identifier, vtable navigation, struct
  * layout) asserted against the PUBLIC format spec, plus seeded
  * round-trip properties for all three schemas. A conformant external
  * reader sees exactly these bytes, so the structural assertions are the
  * cross-implementation compatibility check available offline.
  */
class WireCodecsSpec extends AnyFunSuite {

  private def meta(ts: Long = 1700000000000000000L) = FrameMetadata(
    timestampNs = ts,
    periodNumber = 3L,
    protonsPerPulse = 4,
    running = true,
    frameNumber = 7L,
    vetoFlags = 5)

  test("dev2 golden structure: identifier, root table, vtable-addressed fields") {
    val msg = EventListMessage(
      digitizerId = 9,
      metadata = meta(),
      time = Array(1L, 2L, 4294967295L), // u32 max survives
      voltage = Array(100, 65535),
      channel = Array(72L))
    val bytes = WireCodecs.encodeDev2(msg)

    // file identifier at bytes 4..8 (format spec)
    assert(new String(bytes.slice(4, 8), "US-ASCII") === "dev2")
    assert(WireCodecs.hasIdentifier(bytes, "dev2"))
    assert(!WireCodecs.hasIdentifier(bytes, "dat2"))

    // navigate by hand with the reader primitives
    val r = new FlatBufReader(bytes)
    val root = r.rootTable
    assert(root >= 8 && root < bytes.length)
    // vtable soffset points backward to a sane vtable
    val vt = root - r.i32(root)
    assert(vt >= 0 && vt < bytes.length)
    assert((r.u16(vt) - 4) / 2 === 5, "vtable declares 5 field slots")
    // field 0: digitizer_id scalar
    assert(r.u8(r.fieldPos(root, 0)) === 9)
    // field 2: time vector with u32 semantics
    val timePos = r.fieldPos(root, 2)
    val timeVec = r.indirect(timePos)
    assert(r.vectorLength(timeVec) === 3)
    assert(r.u32(r.vectorElems(timeVec) + 8) === 4294967295L)
  }

  test("GpsTime struct layout inside FrameMetadataV2 matches the .fbs field offsets") {
    val bytes = WireCodecs.encodeDev2(
      EventListMessage(1, meta(), Array.emptyLongArray, Array.emptyIntArray, Array.emptyLongArray))
    val r = new FlatBufReader(bytes)
    val metaTable = r.indirect(r.fieldPos(r.rootTable, 1))
    val g = graft.functions.TimeFunctions.epochNsToGps(1700000000000000000L)
    val s = r.fieldPos(metaTable, 0) // struct is inline at its field position
    assert(r.u8(s) === g.year)
    assert(r.u16(s + 2) === g.day)
    assert(r.u8(s + 4) === g.hour)
    assert(r.u8(s + 5) === g.minute)
    assert(r.u8(s + 6) === g.second)
    assert(r.u16(s + 8) === g.millisecond)
    assert(r.u16(s + 10) === g.microsecond)
    assert(r.u16(s + 12) === g.nanosecond)
    // scalar fields land at 2/4/8-aligned absolute positions
    assert(r.fieldPos(metaTable, 1) % 8 === 0, "u64 period_number aligned")
    assert(s % 2 === 0, "GpsTime struct 2-aligned")
  }

  test("round trip: dev2/dat2/aev2 over seeded random messages") {
    val rnd = new scala.util.Random(20260812L)
    def randMeta() = FrameMetadata(
      timestampNs = 1700000000000000000L + rnd.nextLong(1000000000000L),
      periodNumber = rnd.nextLong(1 << 20),
      protonsPerPulse = rnd.nextInt(256),
      running = rnd.nextBoolean(),
      frameNumber = rnd.nextLong(1L << 32),
      vetoFlags = rnd.nextInt(1 << 16))
    (0 until 200).foreach { _ =>
      val n = rnd.nextInt(20)
      val dev2 = EventListMessage(
        digitizerId = rnd.nextInt(256),
        metadata = randMeta(),
        time = Array.fill(n)(rnd.nextLong(1L << 32)),
        voltage = Array.fill(n)(rnd.nextInt(1 << 16)),
        channel = Array.fill(n)(rnd.nextLong(1L << 32)))
      val back = WireCodecs.decodeDev2(WireCodecs.encodeDev2(dev2))
      assert(back.digitizerId === dev2.digitizerId)
      assert(back.metadata === dev2.metadata)
      assert(back.time.toSeq === dev2.time.toSeq)
      assert(back.voltage.toSeq === dev2.voltage.toSeq)
      assert(back.channel.toSeq === dev2.channel.toSeq)

      val dat2 = TraceMessage(
        digitizerId = rnd.nextInt(256),
        metadata = randMeta(),
        sampleRate = 1000000000L,
        channels = Array.tabulate(rnd.nextInt(8))(c =>
          ChannelTrace(c.toLong, Array.fill(rnd.nextInt(50))(rnd.nextInt(1 << 16)))))
      val backT = WireCodecs.decodeDat2(WireCodecs.encodeDat2(dat2))
      assert(backT.digitizerId === dat2.digitizerId)
      assert(backT.metadata === dat2.metadata)
      assert(backT.sampleRate === dat2.sampleRate)
      assert(backT.channels.length === dat2.channels.length)
      backT.channels.zip(dat2.channels).foreach { case (a, b) =>
        assert(a.channel === b.channel)
        assert(a.voltage.toSeq === b.voltage.toSeq)
      }

      val aev2 = AssembledFrame(
        metadata = randMeta(),
        time = Array.fill(n)(rnd.nextLong(1L << 32)),
        voltage = Array.fill(n)(rnd.nextInt(1 << 16)),
        channel = Array.fill(n)(rnd.nextLong(1L << 32)),
        complete = rnd.nextBoolean(),
        digitizersPresent = Array.tabulate(rnd.nextInt(5))(identity))
      val backA = WireCodecs.decodeAev2(WireCodecs.encodeAev2(aev2))
      assert(backA.metadata === aev2.metadata)
      assert(backA.time.toSeq === aev2.time.toSeq)
      assert(backA.complete === aev2.complete)
      assert(backA.digitizersPresent.toSeq === aev2.digitizersPresent.toSeq)
    }
  }

  test("wire ingest: identifier router drops foreign/malformed, metrics count them, " +
    "survivors drive the streaming assembler") {
    val spark = org.apache.spark.sql.SparkSession
      .builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    import spark.implicits._

    val valid = (0 until 4).map(d =>
      EventListMessage(d, meta(), Array(1L, 2L), Array(10, 20), Array(d * 8L, d * 8L + 1)))
    val dat2Buf = WireCodecs.encodeDat2(
      TraceMessage(1, meta(), 1000000000L, Array(ChannelTrace(0L, Array(1, 2, 3)))))
    val garbage = Array[Byte](1, 2, 3) // too short for an identifier
    val corrupt = {
      val b = WireCodecs.encodeDev2(valid.head)
      // valid identifier, destroyed root offset → decode throws → malformed
      b(0) = 0x7f.toByte; b(1) = 0x7f.toByte; b(2) = 0x7f.toByte; b(3) = 0x7f.toByte
      b
    }
    val lengthBomb = {
      // valid identifier and structure, then a vector length field forged
      // to ~2^31 — must land in "malformed" as a caught decode error, not
      // attempt a multi-GB allocation
      val b = WireCodecs.encodeDev2(
        EventListMessage(0, meta(), Array(1L, 2L, 3L), Array(1, 2, 3), Array(1L, 2L, 3L)))
      val r = new FlatBufReader(b)
      val vec = r.indirect(r.fieldPos(r.rootTable, 2))
      val bb = java.nio.ByteBuffer.wrap(b).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.putInt(vec, Int.MaxValue)
      b
    }
    val raw = (valid.map(WireCodecs.encodeDev2) ++
      Seq(dat2Buf, garbage, corrupt, null, lengthBomb)).toDS()

    // batch path: the named observe() metrics capture the drop taxonomy
    // map-side (read back through queryExecution after the action)
    val decoded = graft.streaming.WireIngest.dev2FromBinary(raw)
    val out = decoded.collect()
    assert(out.map(_.digitizerId).sorted.toSeq === Seq(0, 1, 2, 3))
    assert(out.forall(_.time.toSeq == Seq(1L, 2L)))
    val m = decoded.queryExecution.observedMetrics("wire_ingest")
    assert(m.getAs[Long]("n_messages") === 9L)
    assert(m.getAs[Long]("n_ok") === 4L)
    assert(m.getAs[Long]("n_foreign") === 3L) // dat2 + short garbage + null payload
    assert(m.getAs[Long]("n_malformed") === 2L) // corrupt root + length bomb

    // streaming path: same transform on a MemoryStream feeds the real
    // stateful assembler (transformWithState needs the RocksDB provider)
    val s = spark.newSession()
    s.conf.set(
      "spark.sql.streaming.stateStore.providerClass",
      graft.Sessions.RocksDBProvider)
    implicit val sqlCtx = s.sqlContext
    val input =
      org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Array[Byte]]
    val assembled = graft.streaming.FrameAssemblyTws
      .assemble(graft.streaming.WireIngest.dev2FromBinary(input.toDS()), Seq(0, 1, 2, 3))
    val name = s"wire_frames_${System.nanoTime()}"
    val ckpt = java.nio.file.Files.createTempDirectory("wire_ckpt").toString
    val q = assembled.writeStream
      .format("memory")
      .queryName(name)
      .outputMode("append")
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("100 milliseconds"))
      .start()
    try {
      input.addData(valid.map(WireCodecs.encodeDev2) ++ Seq(dat2Buf, garbage, corrupt))
      val deadline = System.currentTimeMillis() + 30000L
      while (s.table(name).count() < 1 && System.currentTimeMillis() < deadline)
        Thread.sleep(100L)
    } finally q.stop()
    val frames = s.table(name).collect()
    assert(frames.length === 1)
    assert(frames.head.getAs[Boolean]("complete"))
    assert(frames.head.getAs[Seq[Long]]("time").length === 8)
  }

  test("control plane: pl72/6s4t/al00 round trips, subset decode, identifier routing") {
    val start = RunStart("run_42", 1700000000123L, "MUSR", nPeriods = 4L)
    val stop = RunStop("run_42", 1700000999456L)
    val alarm = Alarm("IN:MUSR:CS:SB:hv", 1700000000000000007L, "MAJOR", "over-voltage")

    val sb = WireCodecs.encodePl72(start)
    assert(new String(sb.slice(4, 8), "US-ASCII") === "pl72")
    assert(WireCodecs.decodePl72(sb) === start)

    // full file-writer contract: nexus_structure JSON, job_id, filename,
    // control_topic, and the embedded df12 detector-spectrum map all
    // round-trip; absent-field decode (the subset message above) already
    // proved the defaults
    val full = start.copy(
      nexusStructure = """{"children":[{"name":"entry","type":"group"}]}""",
      jobId = "7a6b1f2e-0c4d-4e58-9b1a-3f2d5c8e0a44",
      filename = "run_42.nxs",
      controlTopic = "MUSR_runInfo",
      detectorSpectrumMap = Some(SpectraDetectorMap(
        spectrum = (0 until 16).map(1000 + _),
        detectorId = 0 until 16,
        nSpectra = 16)))
    val fb = WireCodecs.encodePl72(full)
    assert(WireCodecs.decodePl72(fb) === full)
    // negative spectrum numbers are legal [int] values — no u32 clamping
    val neg = full.copy(detectorSpectrumMap =
      Some(SpectraDetectorMap(Seq(-1, 5), Seq(3, -7), 2)))
    assert(WireCodecs.decodePl72(WireCodecs.encodePl72(neg)) === neg)
    // mismatched parallel vectors fail closed
    intercept[IllegalArgumentException](WireCodecs.encodePl72(full.copy(
      detectorSpectrumMap = Some(SpectraDetectorMap(Seq(1), Seq(1, 2), 2)))))
    // the J5 dimension rendering zips the parallel vectors
    assert(full.detectorSpectrumMap.get.mappings.take(2) ===
      Seq(SpectrumMapping(1000, 0), SpectrumMapping(1001, 1)))

    val tb = WireCodecs.encode6s4t(stop)
    assert(WireCodecs.decode6s4t(tb) === stop)
    // stop NOW (time 0) survives the wire: scalar fields are always
    // written, so 0 is not conflated with "absent"
    assert(WireCodecs.decode6s4t(WireCodecs.encode6s4t(RunStop("r", 0L))).stopTimeMs === 0L)

    val ab = WireCodecs.encodeAl00(alarm)
    assert(WireCodecs.decodeAl00(ab) === alarm)
    intercept[IllegalArgumentException](WireCodecs.encodeAl00(alarm.copy(severity = "PANIC")))

    // the control router discriminates start/stop on one topic and
    // rejects everything else — the reference's message_handlers dispatch
    val spark = org.apache.spark.sql.SparkSession
      .builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    import spark.implicits._
    val msgs = graft.streaming.WireIngest
      .controlFromBinary(Seq(sb, tb, ab, Array[Byte](9, 9)).toDS())
      .collect()
      .sortBy(_.kind)
    assert(msgs.map(m => (m.kind, m.runName, m.timeMs)).toSeq ===
      Seq(("start", "run_42", 1700000000123L), ("stop", "run_42", 1700000999456L)))
    assert(msgs.forall(_.ingestTimeMs > 0L))
  }

  test("f144/se00 unions: all 20 log variants round-trip; foreign member decode widens") {
    val types = Seq(
      "Byte", "UByte", "Short", "UShort", "Int", "UInt", "Long", "ULong",
      "Float", "Double",
      "ArrayByte", "ArrayUByte", "ArrayShort", "ArrayUShort", "ArrayInt",
      "ArrayUInt", "ArrayLong", "ArrayULong", "ArrayFloat", "ArrayDouble")
    types.zipWithIndex.foreach { case (t, i) =>
      val isArray = i >= 10
      val sample = (j: Int) => (i * 7 + j * 3 + 1).toDouble // whole, in every range
      val m = LogData(
        sourceName = s"pv_$t",
        timestampNs = 1700000000000000000L + i,
        valueType = t,
        value = if (isArray) 0.0 else sample(0),
        arrayValue = if (isArray) Array.tabulate(3)(sample) else Array.empty)
      val bytes = WireCodecs.encodeF144(m)
      assert(new String(bytes.slice(4, 8), "US-ASCII") === "f144")
      val back = WireCodecs.decodeF144(bytes)
      assert(back.sourceName === m.sourceName)
      assert(back.valueType === t)
      assert(back.value === m.value)
      assert(back.arrayValue.toSeq === m.arrayValue.toSeq)
    }
    // fractional value into an integer member → fail closed
    intercept[IllegalArgumentException](WireCodecs.encodeF144(
      LogData("pv", 1L, "Int", 1.5, Array.empty)))
    // Double keeps full precision (no float narrowing)
    val d = LogData("pv", 1L, "Double", math.Pi, Array.empty)
    assert(WireCodecs.decodeF144(WireCodecs.encodeF144(d)).value === math.Pi)

    // u64 corners: 2^63 for signed Long is DECODE'S image of
    // Long.MaxValue (which widens to exactly 2^63) — it maps back to
    // the canonical MAX bits, round-tripping to the same boundary
    // double rather than failing; same for u64::MAX at 2^64. The upper
    // u64 half below the boundary round-trips exactly.
    val two63 = 9.223372036854776e18
    assert(WireCodecs.decodeF144(WireCodecs.encodeF144(
      LogData("pv", 1L, "Long", two63, Array.empty))).value === two63)
    assert(WireCodecs.decodeF144(WireCodecs.encodeF144(
      LogData("pv", 1L, "ULong", two63, Array.empty))).value === two63)
    val upper = 1.8446744073709550e19 // 2^64 - 2048, representable
    assert(WireCodecs.decodeF144(WireCodecs.encodeF144(
      LogData("pv", 1L, "ULong", upper, Array.empty))).value === upper)
    assert(WireCodecs.decodeF144(WireCodecs.encodeF144(
      LogData("pv", 1L, "ULong", 1.8446744073709552e19, Array.empty))).value
      === 1.8446744073709552e19) // == 2^64, u64::MAX's image
    // clearly OUT of range still fails closed
    intercept[IllegalArgumentException](WireCodecs.encodeF144(
      LogData("pv", 1L, "ULong", 2.0e19, Array.empty)))

    val se = SampleEnvLog(
      name = "se_dev",
      channel = 3,
      packetTimestampNs = 1700000000000000005L,
      timeDelta = 250000.0,
      timestampLocation = "Middle",
      values = Array(1.5, -2.25, 3.0),
      timestamps = Array(10L, 20L, 30L),
      messageCounter = 42L)
    val seb = WireCodecs.encodeSe00(se)
    assert(new String(seb.slice(4, 8), "US-ASCII") === "se00")
    // spec conformance: 8-byte vector elements (timestamps i64, values
    // f64) must land 8-ALIGNED — aligned-access readers and the official
    // verifier reject 4-aligned 64-bit elements
    val seReader = new FlatBufReader(seb)
    val tsVec = seReader.indirect(seReader.fieldPos(seReader.rootTable, 7))
    assert((tsVec + 4) % 8 === 0, "timestamps elements 8-aligned")
    val valVec = seReader.indirect(
      seReader.fieldPos(seReader.indirect(seReader.fieldPos(seReader.rootTable, 6)), 0))
    assert((valVec + 4) % 8 === 0, "values elements 8-aligned")
    val seBack = WireCodecs.decodeSe00(seb)
    assert(seBack === se.copy(values = seBack.values, timestamps = seBack.timestamps))
    assert(seBack.values.toSeq === se.values.toSeq)
    assert(seBack.timestamps.toSeq === se.timestamps.toSeq)
    // empty timestamps encode as absent and decode back empty
    val noTs = WireCodecs.decodeSe00(WireCodecs.encodeSe00(se.copy(timestamps = Array.empty)))
    assert(noTs.timestamps.isEmpty)

    // a producer sending a non-double member (Int16Array) decodes widened
    val b = new graft.functions.FlatBufBuilder()
    val vec = b.createUShortVector(Array(7, 65535 & -9 /* -9 as u16 bits */))
    val member = { b.startTable(1); b.slotUOffset(0, vec); b.endTable() }
    val nameOff = b.createString("se_i16")
    b.startTable(9)
    b.slotUOffset(6, member)
    b.slotByte(5, 3) // Int16Array
    b.slotUOffset(0, nameOff)
    val foreign = b.finish(b.endTable(), "se00")
    val fBack = WireCodecs.decodeSe00(foreign)
    assert(fBack.name === "se_i16")
    assert(fBack.values.toSeq === Seq(7.0, -9.0))
    assert(fBack.timestampLocation === "Unknown")
    assert(fBack.valuesType === "Int16Array")
  }

  test("pl72 golden structure: file-writer fields at their .fbs slot ids, df12 nested table") {
    // navigate the buffer by hand with reader primitives — the
    // cross-implementation check that a conformant external reader sees
    // the df12 mapping at field id 10 with its two [int] vectors and
    // n_spectra, and the strings at their declared slots
    val full = RunStart(
      "run_g", 1700000000999L, "MUSR", nPeriods = 2L,
      nexusStructure = """{"k":1}""",
      jobId = "job-g",
      filename = "run_g.nxs",
      controlTopic = "MUSR_runInfo",
      detectorSpectrumMap = Some(SpectraDetectorMap(Seq(1001, 1002, 1003), Seq(11, 12, 13), 3)))
    val b = WireCodecs.encodePl72(full)
    val r = new FlatBufReader(b)
    val t = r.rootTable
    // scalar + string fields at .fbs declaration-order ids
    assert(r.u64(r.fieldPos(t, 0)) === 1700000000999L) // start_time
    assert(r.string(r.fieldPos(t, 2)) === "run_g") // run_name
    assert(r.string(r.fieldPos(t, 3)) === "MUSR") // instrument_name
    assert(r.string(r.fieldPos(t, 4)) === """{"k":1}""") // nexus_structure
    assert(r.string(r.fieldPos(t, 5)) === "job-g") // job_id
    assert(r.fieldPos(t, 6) === -1, "broker never written")
    assert(r.fieldPos(t, 7) === -1, "service_id never written")
    assert(r.string(r.fieldPos(t, 8)) === "run_g.nxs") // filename
    assert(r.u32(r.fieldPos(t, 9)) === 2L) // n_periods
    assert(r.string(r.fieldPos(t, 12)) === "MUSR_runInfo") // control_topic
    // field 10: nested df12 SpectraDetectorMapping table
    val mt = r.indirect(r.fieldPos(t, 10))
    val specVec = r.indirect(r.fieldPos(mt, 0))
    assert(r.vectorLength(specVec) === 3)
    assert(r.i32(r.vectorElems(specVec) + 4) === 1002) // spectrum[1]
    val detVec = r.indirect(r.fieldPos(mt, 1))
    assert(r.i32(r.vectorElems(detVec) + 8) === 13) // detector_id[2]
    assert(r.i32(r.fieldPos(mt, 2)) === 3) // n_spectra
    // a subset message omits every optional field (absent ≠ empty write)
    val subset = WireCodecs.encodePl72(RunStart("r", 1L, "i"))
    val rs = new FlatBufReader(subset)
    Seq(4, 5, 8, 10, 12).foreach(id =>
      assert(rs.fieldPos(rs.rootTable, id) === -1, s"optional field $id must be absent"))
  }

  test("se00 encode covers all ten union members: decode∘encode = id per member") {
    val se = SampleEnvLog(
      name = "se_dev", channel = 1, packetTimestampNs = 1700000000000000005L,
      timeDelta = 1000.0, timestampLocation = "Start",
      values = Array.empty, timestamps = Array.empty, messageCounter = 7L)
    // representative vectors per member: whole values at each type's edges
    // (or float-exact fractions for the real members)
    val cases = Seq(
      "Int8Array" -> Array(-128.0, 0.0, 127.0),
      "UInt8Array" -> Array(0.0, 255.0),
      "Int16Array" -> Array(-32768.0, 9.0, 32767.0),
      "UInt16Array" -> Array(0.0, 65535.0),
      "Int32Array" -> Array(Int.MinValue.toDouble, 3.0, Int.MaxValue.toDouble),
      "UInt32Array" -> Array(0.0, 4294967295.0),
      "Int64Array" -> Array(-9.007199254740992e15, 11.0, 9.007199254740992e15),
      "UInt64Array" -> Array(0.0, 9.223372036854776e18, 1.8446744073709550e19),
      "DoubleArray" -> Array(math.Pi, -2.25),
      "FloatArray" -> Array(1.5, -0.125))
    cases.foreach { case (t, vs) =>
      val back = WireCodecs.decodeSe00(WireCodecs.encodeSe00(se.copy(values = vs, valuesType = t)))
      assert(back.valuesType === t, t)
      assert(back.values.toSeq === vs.toSeq, t)
    }
    // fail-closed narrowing, symmetric with f144: fractional into an int
    // member, out-of-range into a narrow member, float-inexact into f32
    intercept[IllegalArgumentException](
      WireCodecs.encodeSe00(se.copy(values = Array(1.5), valuesType = "Int32Array")))
    intercept[IllegalArgumentException](
      WireCodecs.encodeSe00(se.copy(values = Array(256.0), valuesType = "UInt8Array")))
    intercept[IllegalArgumentException](
      WireCodecs.encodeSe00(se.copy(values = Array(math.Pi), valuesType = "FloatArray")))
    intercept[IllegalArgumentException](
      WireCodecs.encodeSe00(se.copy(values = Array(1.0), valuesType = "Int128Array")))
  }

  test("property: decode∘encode = id over EVERY f144 and se00 union tag, adversarial values") {
    // deterministic adversarial generation (seeded, like
    // AdvancedPropertySpec): per element kind, draw whole values across
    // the FULL wire range with edge emphasis — including the i64/u64
    // corners where Double.toLong saturates and the u64 upper half where
    // doubles are only even — and raw-bits doubles/floats (±0, ±Inf,
    // subnormals; NaN excluded as it breaks == reflexivity, not codec).
    val rng = new scala.util.Random(20260813L)
    val Two63 = 9.223372036854776e18
    def intKind(min: Long, max: Long): () => Double = { () =>
      val edges = Seq(min, max, 0L, min + 1, max - 1).filter(v => v >= min && v <= max)
      val v =
        if (rng.nextInt(3) == 0) edges(rng.nextInt(edges.size))
        else min + math.abs(rng.nextLong() % (max - min + 1))
      v.toDouble
    }
    val longGen: () => Double = { () =>
      var d = 0.0
      do d = rng.nextLong().toDouble while (!(d < Two63 && d.toLong.toDouble == d))
      d
    }
    val ulongGen: () => Double = { () =>
      val l = rng.nextLong()
      if (l >= 0) l.toDouble else (l >>> 1).toDouble * 2.0 + (l & 1L)
    }
    val floatGen: () => Double = { () =>
      var f = 0.0f
      do f = java.lang.Float.intBitsToFloat(rng.nextInt()) while (f.isNaN)
      f.toDouble
    }
    val doubleGen: () => Double = { () =>
      var d = 0.0
      do d = java.lang.Double.longBitsToDouble(rng.nextLong()) while (d.isNaN)
      d
    }
    val elemGen: Map[String, () => Double] = Map(
      "Byte" -> intKind(-128L, 127L),
      "UByte" -> intKind(0L, 255L),
      "Short" -> intKind(-32768L, 32767L),
      "UShort" -> intKind(0L, 65535L),
      "Int" -> intKind(Int.MinValue.toLong, Int.MaxValue.toLong),
      "UInt" -> intKind(0L, 4294967295L),
      "Long" -> longGen,
      "ULong" -> ulongGen,
      "Float" -> floatGen,
      "Double" -> doubleGen)
    val rounds = 200

    // all 20 f144 tags: 10 scalars + 10 array members
    val f144Scalars = elemGen.keys.toSeq.sorted
    f144Scalars.foreach { kind =>
      (0 until rounds).foreach { i =>
        val m = LogData(s"pv_$kind", 1700000000000000000L + i, kind, elemGen(kind)(), Array.empty)
        val back = WireCodecs.decodeF144(WireCodecs.encodeF144(m))
        assert(back.valueType === kind)
        assert(back.value === m.value, s"$kind value ${m.value}")
        assert(back.sourceName === m.sourceName)
        assert(back.timestampNs === m.timestampNs)
      }
      (0 until rounds).foreach { i =>
        val vs = Array.fill(rng.nextInt(9))(elemGen(kind)())
        val m = LogData(s"pv_arr_$kind", 1700000000000000000L + i, s"Array$kind", 0.0, vs)
        val back = WireCodecs.decodeF144(WireCodecs.encodeF144(m))
        assert(back.valueType === s"Array$kind")
        assert(
          back.arrayValue.toSeq.map(java.lang.Double.doubleToRawLongBits) ===
            vs.toSeq.map(java.lang.Double.doubleToRawLongBits),
          s"Array$kind ${vs.mkString(",")}")
      }
    }

    // all 10 se00 tags (element kinds named Int8Array..FloatArray)
    val se00Kinds = Seq(
      "Int8Array" -> "Byte", "UInt8Array" -> "UByte",
      "Int16Array" -> "Short", "UInt16Array" -> "UShort",
      "Int32Array" -> "Int", "UInt32Array" -> "UInt",
      "Int64Array" -> "Long", "UInt64Array" -> "ULong",
      "DoubleArray" -> "Double", "FloatArray" -> "Float")
    se00Kinds.foreach { case (tag, kind) =>
      (0 until rounds).foreach { i =>
        val vs = Array.fill(rng.nextInt(9))(elemGen(kind)())
        val ts = Array.fill(rng.nextInt(4))(rng.nextLong())
        val m = SampleEnvLog(
          name = s"se_$tag",
          channel = rng.nextInt(1 << 16),
          packetTimestampNs = 1700000000000000000L + i,
          timeDelta = doubleGen(),
          timestampLocation = Seq("Unknown", "Start", "Middle", "End")(rng.nextInt(4)),
          values = vs,
          timestamps = ts,
          messageCounter = rng.nextLong(),
          valuesType = tag)
        val back = WireCodecs.decodeSe00(WireCodecs.encodeSe00(m))
        assert(back.valuesType === tag)
        assert(
          back.values.toSeq.map(java.lang.Double.doubleToRawLongBits) ===
            vs.toSeq.map(java.lang.Double.doubleToRawLongBits),
          s"$tag ${vs.mkString(",")}")
        assert(back.timestamps.toSeq === ts.toSeq)
        assert(back.name === m.name)
        assert(back.channel === m.channel)
        assert(
          java.lang.Double.doubleToRawLongBits(back.timeDelta) ===
            java.lang.Double.doubleToRawLongBits(m.timeDelta))
        assert(back.timestampLocation === m.timestampLocation)
        assert(back.messageCounter === m.messageCounter)
      }
    }
  }

  test("u64/i64 top-of-range sentinels survive decode -> encode (boundary rounding)") {
    // u64::MAX widens to exactly 2^64 (within half an ulp of the
    // boundary) — the re-encode must map the boundary double back to
    // the canonical MAX bits, not reject it
    val maxU64AsDouble = 1.8446744073709552e19
    val logMax = WireCodecs.encodeF144(
      LogData("sentinel", 7L, "ULong", maxU64AsDouble, Array.empty))
    val back = WireCodecs.decodeF144(logMax)
    assert(back.value == maxU64AsDouble)
    // i64 boundary: Long.MaxValue.toDouble == 2^63 exactly
    val maxI64AsDouble = 9.223372036854776e18
    val logI = WireCodecs.encodeF144(
      LogData("sentinel", 8L, "Long", maxI64AsDouble, Array.empty))
    assert(WireCodecs.decodeF144(logI).value == maxI64AsDouble)
  }

  test("GpsTime with out-of-range h/m/s is rejected, not rolled into the next day") {
    val bad = graft.functions.GpsTime(26, 100, 25, 0, 0, 0, 0, 0)
    intercept[IllegalArgumentException](graft.functions.TimeFunctions.gpsToEpochNs(bad))
    val badMin = graft.functions.GpsTime(26, 100, 1, 61, 0, 0, 0, 0)
    intercept[IllegalArgumentException](graft.functions.TimeFunctions.gpsToEpochNs(badMin))
  }

  test("encode fails closed on out-of-range values (no silent truncation)") {
    val ok = EventListMessage(1, meta(), Array(1L), Array(1), Array(1L))
    // pre-2000 timestamp → GpsTime year out of u8
    intercept[IllegalArgumentException](
      WireCodecs.encodeDev2(ok.copy(metadata = meta(ts = 0L))))
    intercept[IllegalArgumentException](WireCodecs.encodeDev2(ok.copy(digitizerId = 256)))
    intercept[IllegalArgumentException](WireCodecs.encodeDev2(ok.copy(voltage = Array(65536))))
    intercept[IllegalArgumentException](WireCodecs.encodeDev2(ok.copy(time = Array(1L << 32))))
    intercept[IllegalArgumentException](
      WireCodecs.encodeDev2(ok.copy(metadata = ok.metadata.copy(frameNumber = 1L << 32))))
    intercept[IllegalArgumentException](
      WireCodecs.encodeAev2(AssembledFrame(
        meta(), Array(1L), Array(1), Array(1L), complete = true, digitizersPresent = Array(300))))
  }

  test("decode rejects wrong identifier; empty vectors and zero scalars survive") {
    val m = EventListMessage(0, meta(), Array.emptyLongArray, Array.emptyIntArray, Array.emptyLongArray)
    val bytes = WireCodecs.encodeDev2(m)
    intercept[IllegalArgumentException](WireCodecs.decodeDat2(bytes))
    val back = WireCodecs.decodeDev2(bytes)
    assert(back.time.isEmpty && back.voltage.isEmpty && back.channel.isEmpty)
    assert(back.digitizerId === 0)
  }
}
