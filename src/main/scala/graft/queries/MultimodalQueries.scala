package graft.queries

import graft.sources.{ImageIngest, Multimodal}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal gate queries: drive the REAL image and audio paths
  * (javax.imageio decode → pHash → guarded near-dup join;
  * javax.sound.sampled decode → energy envelope) end-to-end through the
  * driver's harness. The binary fixtures are synthesized deterministically
  * into a temp directory by the query itself — the parquet testdata has no
  * binary columns, and a gate query must be self-contained — then read
  * back through the SAME `binaryFile` scan the production ingest uses.
  *
  * FULL oracles since round 7, by splitting at the decode boundary: the
  * fixture generators are pure integer math and both codecs round-trip
  * losslessly (PNG is lossless; WAV stores the exact 16-bit PCM written),
  * so the decoded pixels/PCM the Spark side sees equal the generator's
  * values — which DuckDB can REGENERATE in SQL and push through the same
  * dataflow: quantized-integer DCT pHash (shared literal cosine table,
  * [[Multimodal.dctCosQ]]) → 4×16-bit Hamming block join for images;
  * exact-float RMS envelope (power-of-two amplitude divisions and
  * equal-term sums are IEEE-exact, sqrt/÷ correctly rounded on both
  * engines) → energy-delta fingerprint → the same block join for audio.
  * The JVM codecs themselves stay spec-pinned (MultimodalSpec, IngestSpec
  * real-PNG/real-WAV round-trips) — the oracle proves everything AFTER
  * the decode, plus the decode's losslessness on these fixtures.
  */
object MultimodalQueries extends QueryPack {

  /** (name, seed, noise): 4 distinct base patterns; seeds 0 and 2 get a
    * near-dup noisy variant and seed 0 an exact copy — known pair
    * structure for the near-dup join. Shared by the fixture writer AND
    * the oracle SQL generator so both engines see one definition.
    */
  private[graft] val imageFixtures: Seq[(String, Int, Int)] = Seq(
    ("base0.png", 0, 0), ("base1.png", 1, 0), ("base2.png", 2, 0),
    ("base3.png", 3, 0), ("base0_noisy.png", 0, 12),
    ("base2_noisy.png", 2, -12), ("base0_copy.png", 0, 0))

  /** (name, mask): 8-bit on/off energy pattern per clip. */
  private[graft] val clipFixtures: Seq[(String, Int)] =
    (0 until 6).map(i => (s"clip$i.wav", (0x35 * (i + 1)) & 0xFF))

  /** (name, mask, amp): two base patterns, each with a lower-gain
    * re-encode — same envelope SHAPE, the invariance the delta
    * fingerprint encodes.
    */
  private[graft] val ndClipFixtures: Seq[(String, Int, Int)] = Seq(
    ("songA.wav", 0x35, 16384), ("songA_quiet.wav", 0x35, 9011),
    ("songB.wav", 0xC6, 16384), ("songB_quiet.wav", 0xC6, 11800))

  /** 32×32 RGB PNG with a deterministic two-gradient pattern; `noise`
    * perturbs a sparse pixel subset, the near-dup regime pHash is built
    * to absorb. The pixel value is pure integer math in (x, y, seed,
    * noise) — the oracle SQL regenerates it (PNG round-trips losslessly).
    */
  private[graft] def pngBytes(seed: Int, noise: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      32, 32, java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
    var y = 0
    while (y < 32) {
      var x = 0
      while (x < 32) {
        val base = if (((x / (4 + seed % 3)) + (y / (3 + seed % 4))) % 2 == 0)
          40 + 13 * seed else 215 - 11 * seed
        val n = if (noise != 0 && (x * 31 + y * 17) % 37 == 0) noise else 0
        val v = math.max(0, math.min(255, base + n))
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
        x += 1
      }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** 16-bit mono PCM WAV: 8-segment on/off energy pattern selected by
    * `mask` bit i (on = `amp`-amplitude square wave, off = silence).
    */
  private def wavBytes(mask: Int, segments: Int = 8,
      perSegment: Int = 1000, amp: Int = 16384): Array[Byte] = {
    import javax.sound.sampled._
    val n = segments * perSegment
    val data = new Array[Byte](n * 2)
    var i = 0
    while (i < n) {
      val on = ((mask >> (i / perSegment)) & 1) == 1
      val s = if (!on) 0 else if (i % 2 == 0) amp else -amp
      data(2 * i) = (s & 0xFF).toByte
      data(2 * i + 1) = ((s >> 8) & 0xFF).toByte
      i += 1
    }
    val fmt = new AudioFormat(AudioFormat.Encoding.PCM_SIGNED, 8000f, 16, 1, 2, 8000f, false)
    val out = new java.io.ByteArrayOutputStream()
    AudioSystem.write(
      new AudioInputStream(new java.io.ByteArrayInputStream(data), fmt, n.toLong),
      AudioFileFormat.Type.WAVE, out)
    out.toByteArray
  }

  /** (name, µs per frame, frame count): two MJPEG AVIs with different
    * frame rates and lengths, so the sampling arithmetic (container
    * duration, tick → source-frame floor division, clamp) is exercised
    * on non-trivial ratios. Frames alternate between two solid-gray
    * JPEGs (frame i = color i mod 2), and the SAME byte array is reused
    * for every frame of a color — the planted structure the gate
    * recovers from frame-byte identity without crossing the JPEG codec
    * boundary.
    */
  private[graft] val vidFixtures: Seq[(String, Long, Int)] = Seq(
    ("vid0.avi", 100000L, 12), ("vid1.avi", 250000L, 10))

  /** MP4 twins of [[vidFixtures]] (same alternating-JPEG construction,
    * own rates; vid3 declares its audio trak FIRST so the gate also
    * proves the first-vide-trak selection). */
  private[graft] val vidMp4Fixtures: Seq[(String, Long, Int)] = Seq(
    ("vid2.mp4", 200000L, 9), ("vid3.mp4", 125000L, 14))

  /** Solid-gray 16×16 JPEG. */
  private[graft] def jpegBytes(v: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      16, 16, java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
    val g = img.createGraphics()
    g.setColor(new java.awt.Color(v, v, v))
    g.fillRect(0, 0, 16, 16)
    g.dispose()
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "jpg", bos)
    bos.toByteArray
  }

  /** Minimal structurally-valid RIFF/AVI: hdrl LIST with the avih
    * header (µs/frame + total frames), movi LIST with one `00dc` chunk
    * per frame. Little-endian sizes, word-aligned chunks — exactly the
    * layout [[graft.sources.Multimodal.parseAvi]] walks.
    */
  private[graft] def aviBytes(usPerFrame: Long,
      frames: Seq[Array[Byte]]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    def w32(v: Long): Unit = {
      out.write((v & 0xFF).toInt); out.write(((v >> 8) & 0xFF).toInt)
      out.write(((v >> 16) & 0xFF).toInt); out.write(((v >> 24) & 0xFF).toInt)
    }
    def tag(s: String): Unit = out.write(
      s.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1))
    val avih = {
      val b = java.nio.ByteBuffer.allocate(56)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      b.putInt(usPerFrame.toInt)      // dwMicroSecPerFrame
      b.putInt(0).putInt(0).putInt(0) // maxBytesPerSec, padding, flags
      b.putInt(frames.length)         // dwTotalFrames
      b.array()
    }
    val hdrlBody = 4 + 8 + avih.length        // 'hdrl' + avih chunk
    val moviBody = 4 + frames.map(f => 8 + f.length + (f.length & 1)).sum
    val riffBody = 4 + 8 + hdrlBody + 8 + moviBody
    tag("RIFF"); w32(riffBody); tag("AVI ")
    tag("LIST"); w32(hdrlBody); tag("hdrl")
    tag("avih"); w32(avih.length); out.write(avih)
    tag("LIST"); w32(moviBody); tag("movi")
    frames.foreach { f =>
      tag("00dc"); w32(f.length); out.write(f)
      if ((f.length & 1) == 1) out.write(0) // word-align
    }
    out.toByteArray
  }

  /** Minimal ISO-BMFF/MP4 fixture: ftyp + mdat (samples concatenated) +
    * moov with one `vide` trak whose sample table lays each sample in
    * its own chunk (stsc single run, stco per-sample offsets). The mdhd
    * timescale is 1e6, so the stts delta IS µs/frame exactly. Motion-
    * JPEG samples make every demuxed frame ImageIO-decodable — the
    * [[graft.sources.Multimodal.parseMp4]] serving shape.
    */
  private[graft] def mp4Bytes(usPerFrame: Long,
      frames: Seq[Array[Byte]],
      leadingAudioTrak: Boolean = false): Array[Byte] = {
    def be32(v: Long): Array[Byte] = Array(
      ((v >> 24) & 0xFF).toByte, ((v >> 16) & 0xFF).toByte,
      ((v >> 8) & 0xFF).toByte, (v & 0xFF).toByte)
    def tag(s: String): Array[Byte] =
      s.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
    def box(tpe: String, body: Array[Byte]*): Array[Byte] = {
      val b = body.flatten.toArray
      be32(8L + b.length) ++ tag(tpe) ++ b
    }
    val ftyp = box("ftyp", tag("isom"), be32(0), tag("isom"))
    val mdatBody = frames.flatten.toArray
    val mdat = box("mdat", mdatBody)
    // sample offsets are absolute payload offsets: ftyp + mdat header
    val dataStart = ftyp.length + 8
    val offsets = frames.scanLeft(dataStart.toLong)(_ + _.length).init
    val vf = be32(0) // version 0 + zero flags
    def trak(handler: String): Array[Byte] = {
      // v0 layout: creation + modification + timescale(1e6) + duration +
      // language ('und') + pre_defined — the spec's full 24-byte body
      val mdhd = box("mdhd", vf, be32(0), be32(0),
        be32(1000000L), be32(frames.length * usPerFrame),
        Array(0x55.toByte, 0xC4.toByte, 0.toByte, 0.toByte))
      val hdlr = box("hdlr", vf, be32(0), tag(handler),
        be32(0), be32(0), be32(0), Array(0.toByte))
      val stts = box("stts", vf, be32(1),
        be32(frames.length), be32(usPerFrame))
      val stsd = box("stsd", vf, be32(1),
        box("jpeg", Array.fill[Byte](8)(0)))
      val stsc = box("stsc", vf, be32(1), be32(1), be32(1), be32(1))
      val stsz = box("stsz", vf, be32(0), be32(frames.length),
        frames.indices.flatMap(i => be32(frames(i).length)).toArray)
      val stco = box("stco", vf, be32(frames.length),
        offsets.flatMap(be32).toArray)
      val stbl = box("stbl", stsd, stts, stsc, stsz, stco)
      val minf = box("minf", stbl)
      box("trak", box("mdia", mdhd, hdlr, minf))
    }
    val traks =
      if (leadingAudioTrak) trak("soun") ++ trak("vide") else trak("vide")
    val moov = box("moov", traks)
    ftyp ++ mdat ++ moov
  }

  /** Idempotent fixture layout under the JVM temp dir: same bytes every
    * call, so repeated gate runs scan identical content.
    */
  private def ensureFixtures(): String = {
    val root = new java.io.File(
      System.getProperty("java.io.tmpdir"), "graft-mm-fixtures")
    val img = new java.io.File(root, "img")
    val aud = new java.io.File(root, "aud")
    img.mkdirs(); aud.mkdirs()
    // unconditional overwrite: a same-length length check would keep a
    // stale fixture from an older generator alive across JVM runs (the
    // shared tmpdir persists); the files are tiny, rewriting is free
    def put(f: java.io.File, bytes: Array[Byte]): Unit = {
      val os = new java.io.FileOutputStream(f)
      try os.write(bytes) finally os.close()
    }
    imageFixtures.foreach { case (name, seed, noise) =>
      put(new java.io.File(img, name), pngBytes(seed, noise))
    }
    clipFixtures.foreach { case (name, mask) =>
      put(new java.io.File(aud, name), wavBytes(mask = mask))
    }
    // near-dup corpus (own subdir so the energy-profile query's row set is
    // untouched)
    val and = new java.io.File(root, "aud_nd")
    and.mkdirs()
    ndClipFixtures.foreach { case (name, mask, amp) =>
      put(new java.io.File(and, name), wavBytes(mask = mask, amp = amp))
    }
    val vid = new java.io.File(root, "vid")
    vid.mkdirs()
    val colorJpegs = Seq(jpegBytes(40), jpegBytes(200))
    vidFixtures.foreach { case (name, uspf, nFrames) =>
      put(new java.io.File(vid, name),
        aviBytes(uspf, (0 until nFrames).map(i => colorJpegs(i % 2))))
    }
    vidMp4Fixtures.foreach { case (name, uspf, nFrames) =>
      put(new java.io.File(vid, name),
        mp4Bytes(uspf, (0 until nFrames).map(i => colorJpegs(i % 2)),
          leadingAudioTrak = name == "vid3.mp4"))
    }
    root.getAbsolutePath
  }

  /** Shared SQL tail: 4×16-bit pigeonhole block join + hot-bucket guard +
    * exact bit_count verify over a `(name, h BIGINT)` relation named
    * `src` — the DuckDB mirror of [[Multimodal.imageNearDups]]. The `&
    * 65535` mask makes DuckDB's arithmetic `>>` equal Spark's
    * shiftrightunsigned on the kept bits (both hashes here are built
    * from bits 0..63 with bit 63 unused, but the mask keeps it safe
    * regardless).
    */
  private def hammingTailSql(src: String): String = s"""blocks AS (
      SELECT name, h, b, (h >> (b*16)) & 65535 AS bval
      FROM $src CROSS JOIN range(0, 4) t(b)
    ), okb AS (
      SELECT b, bval FROM blocks GROUP BY b, bval HAVING COUNT(*) <= 1000
    ), cand AS (
      SELECT DISTINCT x.name AS id_a, y.name AS id_b, x.h AS ha, y.h AS hb
      FROM blocks x JOIN okb o ON o.b = x.b AND o.bval = x.bval
      JOIN blocks y ON y.b = x.b AND y.bval = x.bval AND x.name < y.name
    )
    SELECT id_a, id_b, CAST(bit_count(xor(ha, hb)) AS INT) AS hamming
    FROM cand WHERE bit_count(xor(ha, hb)) <= 3
    ORDER BY id_a, id_b"""

  // image near-dup discovery over REAL decoded pixels: binaryFile scan →
  // imageio decode → quantized-integer DCT pHash → 4-block pigeonhole
  // join with hot-bucket guard. The noisy variants and the exact copy
  // must pair with their bases; distinct patterns must not. FULL oracle:
  // DuckDB regenerates the pixel grid from the fixture math (PNG is
  // lossless, so decoded pixels == generated values — IngestSpec pins
  // the round-trip) and replays block-sum → integer DCT (shared literal
  // cosine table) → median bits → block join, all in BIGINT.
  private val imageNearDups = OracleQuery(
    "mm_image_neardup_pairs",
    (s, _) => {
      val root = ensureFixtures()
      val decoded = ImageIngest.decodeImages(
        ImageIngest.scanImages(s, s"$root/img"))
        .filter(col("ok"))
        .select(
          element_at(split(col("path"), "/"), -1).as("name"),
          Multimodal.perceptualHashQuantized(col("pixels"), 32, 32).as("phash"))
      Multimodal.imageNearDups(decoded, maxHamming = 3, idCol = "name")
        .orderBy(col("id_a"), col("id_b"))
    },
    Some {
      val imgs = imageFixtures.map { case (n, s, nz) => s"('$n', $s, $nz)" }
        .mkString(", ")
      val cqRows = (for { y <- 0 until 32; u <- 0 until 8 }
        yield s"($y, $u, CAST(${Multimodal.dctCosQ(y)(u)} AS BIGINT))")
        .mkString(", ")
      s"""WITH imgs(name, seed, noise) AS (VALUES $imgs
    ), xy AS (
      SELECT x, y FROM range(0, 32) tx(x) CROSS JOIN range(0, 32) ty(y)
    ), px AS (
      -- the pngBytes pattern: two-gradient checker + sparse noise, clamped
      SELECT name, x, y, LEAST(255, GREATEST(0,
        (CASE WHEN ((x // (4 + seed % 3)) + (y // (3 + seed % 4))) % 2 = 0
              THEN 40 + 13*seed ELSE 215 - 11*seed END)
        + (CASE WHEN noise <> 0 AND (x*31 + y*17) % 37 = 0
                THEN noise ELSE 0 END))) AS v
      FROM imgs CROSS JOIN xy
    ), cq(i, u, c) AS (VALUES $cqRows
    ), coef AS (
      -- 32x32 input -> 1-pixel blocks; g = r+g+b = 3v; integer DCT-II
      SELECT p.name, cu.u AS u, cv.u AS v,
        CAST(SUM(CAST(3 * p.v AS BIGINT) * cu.c * cv.c) AS BIGINT) AS coef
      FROM px p
      JOIN cq cu ON cu.i = p.y
      JOIN cq cv ON cv.i = p.x
      GROUP BY p.name, cu.u, cv.u
    ), lowf AS (
      SELECT name, u, v, coef FROM coef WHERE NOT (u = 0 AND v = 0)
    ), med AS (
      SELECT name, coef AS med FROM (
        SELECT name, coef,
          row_number() OVER (PARTITION BY name ORDER BY coef) AS rn
        FROM lowf) WHERE rn = 32
    ), hash AS (
      SELECT l.name, CAST(SUM(CASE WHEN l.coef > m.med
          THEN (CAST(1 AS BIGINT) << (l.u*8 + l.v - 1)) ELSE 0 END)
        AS BIGINT) AS h
      FROM lowf l JOIN med m ON m.name = l.name GROUP BY l.name
    ), ${hammingTailSql("hash")}"""
    })

  // audio near-dup discovery over REAL decoded PCM: binaryFile scan →
  // javax.sound.sampled decode → 65-segment envelope → energy-delta
  // fingerprint (gain-invariant by construction) → the same 4×16-bit
  // Hamming block join the image family uses. FULL oracle: WAV stores
  // the exact PCM the generator wrote, amp/2^15 is float-exact, the
  // per-segment sum of equal squares is double-exact at every partial
  // order, and ÷/sqrt/float-cast are correctly rounded on both engines —
  // so DuckDB regenerates the envelope bit-for-bit and replays
  // fingerprint + block join in BIGINT.
  private val audioNearDupPairs = OracleQuery(
    "mm_audio_neardup_pairs",
    (s, _) => {
      val root = ensureFixtures()
      val media = s.read.format("binaryFile")
        .option("pathGlobFilter", "*.wav").load(s"$root/aud_nd")
        .select(
          element_at(split(col("path"), "/"), -1).as("name"),
          lit("audio").as("kind"),
          col("content").as("payload"))
      val withFp = Multimodal.audioFeatures(media, dim = 65)
        .select(col("name"),
          Multimodal.audioFingerprint(col("features")).as("afp"))
      Multimodal.audioNearDups(withFp, maxHamming = 3, idCol = "name")
        .orderBy(col("id_a"), col("id_b"))
    },
    Some {
      val clips = ndClipFixtures.map { case (n, m, a) => s"('$n', $m, $a)" }
        .mkString(", ")
      s"""WITH clips(name, mask, amp) AS (VALUES $clips
    ), segs AS (
      -- fractional envelope bounds: s0 = i*8000/65 (integer division),
      -- the energyEnvelope discipline
      SELECT i, (i * 8000) // 65 AS s0, ((i + 1) * 8000) // 65 AS s1
      FROM range(0, 65) t(i)
    ), smp AS (
      SELECT name, mask, amp, j
      FROM clips CROSS JOIN range(0, 8000) t(j)
    ), seg_sum AS (
      -- sample j: on iff mask bit (j/1000); mono = ±amp/2^15 (exact
      -- float); squared in double (exact); summed (equal terms, exact)
      SELECT s.name, g.i, g.s1 - g.s0 AS len,
        SUM(CASE WHEN (s.mask >> (s.j // 1000)) & 1 = 1
            THEN (s.amp/32768.0) * (s.amp/32768.0) ELSE 0.0 END) AS ss
      FROM smp s JOIN segs g ON s.j >= g.s0 AND s.j < g.s1
      GROUP BY s.name, g.i, g.s1 - g.s0
    ), env AS (
      SELECT name, i, CAST(sqrt(ss / len) AS REAL) AS rms FROM seg_sum
    ), fp AS (
      -- bit i set iff env(i+1) > env(i): the Haitsma-Kalker delta bits
      SELECT a.name, CAST(SUM(CASE WHEN b.rms > a.rms
          THEN (CAST(1 AS BIGINT) << a.i) ELSE 0 END) AS BIGINT) AS h
      FROM env a JOIN env b ON b.name = a.name AND b.i = a.i + 1
      WHERE a.i < 64
      GROUP BY a.name
    ), ${hammingTailSql("fp")}"""
    })

  // audio energy profiling over REAL decoded PCM: binaryFile scan →
  // javax.sound.sampled decode → 8-segment RMS envelope → per-clip
  // activity stats (the shape a voice-activity / silence-trim stage
  // needs). FULL oracle: same exact-arithmetic argument as the near-dup
  // twin (here segment bounds align with the 1000-sample pattern, so
  // every RMS is exactly amp/2^15 or 0).
  private val audioEnergy = OracleQuery(
    "mm_audio_energy_profile",
    (s, _) => {
      val root = ensureFixtures()
      val media = s.read.format("binaryFile")
        .option("pathGlobFilter", "*.wav").load(s"$root/aud")
        .select(
          xxhash64(col("path")).as("asset_id"),
          element_at(split(col("path"), "/"), -1).as("name"),
          lit("audio").as("kind"),
          struct(lit(null).cast("int").as("width"),
            lit(null).cast("int").as("height"),
            lit(1000L).as("duration_ms"), lit(8000).as("sample_rate"),
            lit("wav").as("codec")).as("meta"),
          col("content").as("payload"))
      Multimodal.audioFeatures(media, dim = 8)
        .select(col("name"),
          aggregate(col("features"),
            lit(0), (acc, x) => acc + when(x > 0.1f, 1).otherwise(0))
            .as("active_segments"),
          round(array_max(col("features")).cast("double"), 3).as("peak_rms"))
        .orderBy(col("name"))
    },
    Some {
      val clips = clipFixtures.map { case (n, m) => s"('$n', $m)" }
        .mkString(", ")
      s"""WITH clips(name, mask) AS (VALUES $clips
    ), smp AS (
      SELECT name, mask, j
      FROM clips CROSS JOIN range(0, 8000) t(j)
    ), sq AS (
      SELECT name, j // 1000 AS seg,
        CASE WHEN (mask >> (j // 1000)) & 1 = 1 THEN 0.25 ELSE 0.0 END AS m
      FROM smp
    ), env AS (
      SELECT name, seg, CAST(sqrt(SUM(m) / 1000.0) AS REAL) AS rms
      FROM sq GROUP BY name, seg
    )
    SELECT name,
      CAST(SUM(CASE WHEN rms > CAST(0.1 AS REAL) THEN 1 ELSE 0 END) AS INT)
        AS active_segments,
      ROUND(CAST(MAX(rms) AS DOUBLE), 3) AS peak_rms
    FROM env GROUP BY name ORDER BY name"""
    })

  // ---- the S4 JSON embedding store through the NATIVE DSv2 connector
  //      (sources/EmbJsonDataSource): the artifact dumps the embeddings
  //      table into the reference's exact layout — one {key: [floats]}
  //      object per group file, floats as Float.toString (shortest
  //      round-trip repr, so JSON text → parseFloat is bit-exact) — and
  //      the gate reads it back via spark.read.format("embjson"),
  //      aggregating a quantized content checksum per group that DuckDB
  //      replays from the parquet twin. Proves the connector end-to-end:
  //      file planning, streaming parse, and the exact float round-trip ----
  lazy val embJsonDump: Artifact[String] =
    Artifact("embjson_dump") { (s, d) =>
      val dir = java.nio.file.Files
        .createTempDirectory("graft-embjson-dump").toString
      val rows = graft.Tables.embeddings(s, d)
        .select(col("label"), col("vec_id"), col("embedding"))
        .collect() // the bounded vector corpus (2k rows at sf0.1)
        .groupBy(_.getInt(0))
      rows.foreach { case (label, rs) =>
        val body = rs.sortBy(_.getLong(1)).map { r =>
          val vec = r.getSeq[Float](2).map(_.toString).mkString(", ")
          s""""v${r.getLong(1)}": [$vec]"""
        }.mkString("{", ", ", "}")
        java.nio.file.Files.write(
          java.nio.file.Paths.get(dir, s"label$label.json"),
          body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      }
      dir
    }(_ => ())
  private val embJsonSource = OracleQuery(
    "s_embjson_source",
    (s, d) => s.read.format("embjson").load(embJsonDump(s, d))
      .select(col("group").as("grp"), col("image_key"),
        explode(col("embedding")).as("v"))
      .groupBy(col("grp"))
      .agg(countDistinct(col("image_key")).cast("long").as("n_keys"),
        sum(floor(col("v").cast("double") * lit(1000000.0)).cast("long"))
          .cast("long").as("sum_q"))
      .orderBy(col("grp")),
    Some("""SELECT 'label' || label AS grp,
      CAST(COUNT(DISTINCT vec_id) AS BIGINT) AS n_keys,
      CAST(SUM(vq) AS BIGINT) AS sum_q
    FROM (SELECT label, vec_id,
            CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000000.0)
              AS BIGINT) AS vq
          FROM embeddings)
    GROUP BY 1 ORDER BY 1"""),
    needs = Seq(embJsonDump))

  // REAL video frame sampling (round 10): binaryFile scan → RIFF/AVI
  // container walk (Multimodal.parseAvi — exact byte slicing, no codec)
  // → stride ticks → the MJPEG frame on screen at each tick. FULL
  // oracle by the decode-boundary split: container duration, tick
  // count, and the tick → source-frame floor/clamp arithmetic replay in
  // SQL from the fixture constants, and the planted color alternation
  // (frame i = color i mod 2, one shared byte array per color) lets the
  // gate publish WHICH frames are byte-identical (color_group = first
  // tick showing the same bytes) without the oracle ever seeing a JPEG.
  // The JPEG decodability of the extracted frames is MultimodalSpec's
  // job (real ImageIO decode of a sampled frame).
  private val videoFrameSample = OracleQuery(
    "mm_video_frame_sample",
    (s, _) => {
      val root = ensureFixtures()
      val media = s.read.format("binaryFile")
        .option("pathGlobFilter", "*.avi").load(s"$root/vid")
        .select(
          xxhash64(col("path")).as("asset_id"),
          element_at(split(col("path"), "/"), -1).as("name"),
          lit("video").as("kind"),
          struct(lit(null).cast("int").as("width"),
            lit(null).cast("int").as("height"),
            lit(null).cast("long").as("duration_ms"),
            lit(null).cast("int").as("sample_rate"),
            lit("mjpeg").as("codec")).as("meta"),
          col("content").as("payload"))
      val frames = Multimodal.sampleFrames(media, strideMs = 300L,
        maxFrames = 8)
      frames
        .join(media.select(col("asset_id"), col("name")), Seq("asset_id"))
        .withColumn("color_group",
          min(col("frame_idx")).over(
            org.apache.spark.sql.expressions.Window
              .partitionBy(col("name"), md5(col("frame")))).cast("int"))
        .select(col("name"), col("frame_idx"), col("ts_ms"),
          col("color_group"))
        .orderBy(col("name"), col("frame_idx"))
    },
    Some(videoOracleSql(vidFixtures)))

  /** Shared oracle for the frame-sampling gates: the decode-boundary
    * split — tick arithmetic + planted alternating-color identity replay
    * in SQL, parameterized by the fixture (name, µs/frame, frame count)
    * triples; no JPEG ever crosses the oracle. */
  private def videoOracleSql(fixtures: Seq[(String, Long, Int)]): String = {
    val vids = fixtures.map { case (n, uspf, nf) => s"('$n', $uspf, $nf)" }
      .mkString(", ")
    s"""WITH vids(name, uspf, nframes) AS (VALUES $vids
    ), ticks AS (
      SELECT name, uspf, nframes,
        unnest(range(0, LEAST((nframes * uspf // 1000) // 300, 8))) AS k
      FROM vids
    ), fr AS (
      SELECT name, CAST(k AS INT) AS frame_idx,
        CAST(k * 300 AS BIGINT) AS ts_ms,
        LEAST(nframes - 1, (k * 300 * 1000) // uspf) % 2 AS color
      FROM ticks
    )
    SELECT name, frame_idx, ts_ms,
      CAST(MIN(frame_idx) OVER (PARTITION BY name, color) AS INT)
        AS color_group
    FROM fr ORDER BY name, frame_idx"""
  }

  // ---- the MP4 twin (round 12): the SAME serving pipeline over
  //      ISO-BMFF payloads — binaryFile scan → parseMp4 sample-table
  //      demux → stride ticks → byte-identity color groups. vid3
  //      declares its audio trak first, so a hash match also proves the
  //      first-vide-trak selection (the AVI round's multi-stream lesson
  //      applied to MP4 from day one) ----
  private val videoMp4Sample = OracleQuery(
    "mm_video_mp4_sample",
    (s, _) => {
      val root = ensureFixtures()
      val media = s.read.format("binaryFile")
        .option("pathGlobFilter", "*.mp4").load(s"$root/vid")
        .select(
          xxhash64(col("path")).as("asset_id"),
          element_at(split(col("path"), "/"), -1).as("name"),
          lit("video").as("kind"),
          struct(lit(null).cast("int").as("width"),
            lit(null).cast("int").as("height"),
            lit(null).cast("long").as("duration_ms"),
            lit(null).cast("int").as("sample_rate"),
            lit("mjpeg").as("codec")).as("meta"),
          col("content").as("payload"))
      val frames = Multimodal.sampleFrames(media, strideMs = 300L,
        maxFrames = 8)
      frames
        .join(media.select(col("asset_id"), col("name")), Seq("asset_id"))
        .withColumn("color_group",
          min(col("frame_idx")).over(
            org.apache.spark.sql.expressions.Window
              .partitionBy(col("name"), md5(col("frame")))).cast("int"))
        .select(col("name"), col("frame_idx"), col("ts_ms"),
          col("color_group"))
        .orderBy(col("name"), col("frame_idx"))
    },
    Some(videoOracleSql(vidMp4Fixtures)))

  override val all: Seq[OracleQuery] =
    Seq(imageNearDups, audioEnergy, audioNearDupPairs, embJsonSource,
      videoFrameSample, videoMp4Sample)
}
