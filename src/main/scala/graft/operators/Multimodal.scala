package graft.operators

import graft.Tables
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.CheckpointIds
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Multimodal column plumbing (SURVEY.md §2 M1–M3).
  *
  * Media are opaque `binary` columns + a typed metadata struct — the
  * lakehouse pattern for image/audio/video at 100 TB: the engine never
  * interprets payload bytes except inside explicitly-batched decode
  * operators, so scans, partition pruning, and shuffles treat media
  * rows like any other row (with `binary` kept OUT of `ReadSchema`
  * until an operator needs it — column pruning is the whole game when
  * rows are megabytes wide).
  *
  * The decode step itself is STUBBED deterministically (this container
  * has no image/audio codecs): payloads are UTF-8 bytes of the document
  * text and "decode" is UTF-8 decoding inside `mapPartitions`. The
  * Spark-side shape — binary column, per-partition batch iteration,
  * typed output schema — is exactly what a JNI/codec-backed decoder
  * would use; swap `decodeBatch` for the real codec and nothing else
  * changes.
  */
object Multimodal {

  /** Synthesize the media table: payload (binary) + metadata struct.
    * Deterministic: payload = UTF-8 bytes of `text`.
    */
  def mediaTable(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "documents")
      .select(
        col("doc_id"),
        encode(col("text"), "UTF-8").as("payload"),
        struct(
          lit("utf8").as("format"),
          octet_length(encode(col("text"), "UTF-8")).as("n_bytes"),
          (col("n_chars") % 640).cast("int").as("width"),
          lit(1).as("n_channels")).as("meta"))

  /** M8: container-header probe — the "ffprobe" rung of a media
    * pipeline: every ingest must pull width/height/channels/body-size
    * out of the LEADING BYTES of an opaque blob (no codec, no full
    * decode) before routing, resizing decisions, or corrupt-file
    * quarantine can happen. The synthetic container here is a 16-byte
    * header — magic "GMM1" + three big-endian u32 fields — prepended
    * to the payload; real formats (PNG IHDR, JPEG SOF, WAV fmt) are
    * the same fixed-offset arithmetic with different offsets.
    *
    * The probe is pure binary projection IN THE SCAN: `substring` on
    * the blob + `hex`/`conv` field extraction, all codegen'd — no
    * UDF, and the payload bytes themselves never shuffle (the header
    * fields are projected out before any exchange; at 100 TB the
    * blobs are the data and this is the only way a probe stays
    * scan-speed). A bad-magic row surfaces as `magic_ok = false` for
    * quarantine (S7's contract for binary feeds). The oracle
    * recomputes every field from the row's doc_id arithmetically, so
    * a hash match proves FIELD-EXACT binary encode→parse round-trips
    * — endianness, offsets, and lengths all survive.
    */
  def mmProbe(spark: SparkSession, dir: String): DataFrame = {
    def be32(v: org.apache.spark.sql.Column) =
      unhex(lpad(hex(v.cast("long")), 8, "0"))
    val docs = Tables.load(spark, dir, "documents")
    val media = docs.select(
      col("doc_id"),
      concat(
        encode(lit("GMM1"), "UTF-8"),
        be32(lit(64) + col("doc_id") % 1856),
        be32(lit(64) + (col("doc_id") * 7) % 1024),
        be32(lit(1) + col("doc_id") % 4),
        encode(col("text"), "UTF-8")).as("blob"))
    media.select(
        col("doc_id"),
        (decode(substring(col("blob"), 1, 4), "UTF-8") === "GMM1").as("magic_ok"),
        conv(hex(substring(col("blob"), 5, 4)), 16, 10).cast("long").as("width"),
        conv(hex(substring(col("blob"), 9, 4)), 16, 10).cast("long").as("height"),
        conv(hex(substring(col("blob"), 13, 4)), 16, 10).cast("long").as("channels"),
        (octet_length(col("blob")) - 16).cast("long").as("body_bytes"))
      .orderBy("doc_id")
  }

  /** M4: binary-FILE ingestion — the `binaryFile` source, how raw
    * media objects (one image/audio file per object) actually enter a
    * lakehouse before being compacted into binary columns. Payload
    * files stage via a DISTRIBUTED `foreachPartition` write (each
    * executor writes its partition's documents through the Hadoop FS
    * API — one object per document, no driver materialization, the
    * same pattern that stages onto HDFS/object storage at scale), are
    * read back with `spark.read.format("binaryFile")`, and
    * checksummed: doc_id parsed from the path, n_bytes from the
    * source's `length`, byte_sum from the `content` bytes. The oracle
    * recomputes all three from `documents` — a match proves the file
    * round-trip is byte-exact. Only docs < `nDocs` stage (bounds file
    * count for the gate; the source itself streams any number).
    *
    * `stageDir` must be on a filesystem every executor can reach — an
    * HDFS/object-store URI on a real cluster (the Hadoop FS API
    * resolves the scheme through the shipped session conf); the
    * driver-local tmpdir default is only valid where driver and
    * executors share a filesystem (local mode, NFS).
    */
  def mmBinaryFiles(spark: SparkSession, dir: String, nDocs: Int = 50,
                    stageDir: Option[String] = None): DataFrame = {
    val stage = stageDir.getOrElse(
      java.nio.file.Files.createTempDirectory("graft_binfiles").toString)
    // Executors must resolve the staging FS through the SESSION's Hadoop
    // conf (fs.defaultFS, credentials, connector settings) — a bare
    // new Configuration() on an executor sees only the XML defaults.
    // Configuration isn't Serializable, so ship its entries and rebuild.
    val hadoopProps: Array[(String, String)] = {
      val it = spark.sparkContext.hadoopConfiguration.iterator()
      val b = Array.newBuilder[(String, String)]
      while (it.hasNext) { val e = it.next(); b += (e.getKey -> e.getValue) }
      b.result()
    }
    Tables.load(spark, dir, "documents")
      .filter(col("doc_id") < nDocs)
      .select(col("doc_id"), col("text"))
      .foreachPartition { rows: Iterator[Row] =>
        val conf = new org.apache.hadoop.conf.Configuration(false)
        hadoopProps.foreach { case (k, v) => conf.set(k, v) }
        rows.foreach { r =>
          val p = new org.apache.hadoop.fs.Path(f"$stage/doc_${r.getLong(0)}%06d.bin")
          val out = p.getFileSystem(conf).create(p, true)
          try out.write(r.getString(1).getBytes(java.nio.charset.StandardCharsets.UTF_8))
          finally out.close()
        }
      }
    // byte_sum via the same hex-pair decode as mm_sample: raw byte
    // semantics, no charset round-trip
    val byteSum = aggregate(
      transform(sequence(lit(1), octet_length(col("content"))),
        i => conv(hex(substring(col("content"), i, lit(1))), 16, 10).cast("long")),
      lit(0L), (acc, x) => acc + x)
    spark.read.format("binaryFile").load(stage)
      .select(
        regexp_extract(col("path"), "doc_(\\d+)\\.bin", 1).cast("long").as("doc_id"),
        col("length").as("n_bytes"),
        byteSum.as("byte_sum"))
      .orderBy("doc_id")
  }

  /** M5: shard packing + indexed byte-range read-back — the WebDataset
    * / tar-shard answer to the small-file problem: millions of
    * kilobyte-scale media objects become a few large shard blobs plus
    * a columnar index (doc_id → shard, offset, length). Packing is one
    * distributed pass (each task streams its partition's payloads into
    * ONE shard through the Hadoop FS API and emits the index rows —
    * offsets deterministic because the partition is hash-assigned and
    * sorted); reading is index-driven seeks (`FSDataInputStream
    * .readFully(offset, …)`) that touch exactly the requested byte
    * ranges — object stores bill and throttle per request, so
    * range-reads against few large objects is the access pattern that
    * survives 100 TB of media. Round-trip is proved byte-exact: the
    * oracle recomputes each payload's md5 from the source text.
    *
    * Same shared-FS caveat as [[mmBinaryFiles]]: `shardDir` must be
    * reachable by every executor (object-store URI on a cluster).
    */
  def mmShards(spark: SparkSession, dir: String, nShards: Int = 4,
               shardDir: Option[String] = None): DataFrame = {
    import spark.implicits._
    val base = shardDir.getOrElse(
      java.nio.file.Files.createTempDirectory("graft_shards").toString)
    val hadoopProps: Array[(String, String)] = {
      val it = spark.sparkContext.hadoopConfiguration.iterator()
      val b = Array.newBuilder[(String, String)]
      while (it.hasNext) { val e = it.next(); b += (e.getKey -> e.getValue) }
      b.result()
    }
    def fs(conf: org.apache.hadoop.conf.Configuration, p: String) =
      new org.apache.hadoop.fs.Path(p).getFileSystem(conf)
    def conf(): org.apache.hadoop.conf.Configuration = {
      val c = new org.apache.hadoop.conf.Configuration(false)
      hadoopProps.foreach { case (k, v) => c.set(k, v) }
      c
    }
    // pack: one shard file per hash-assigned partition, index rows out
    val index = mediaTable(spark, dir)
      .select(col("doc_id"), col("payload"))
      .repartition(nShards, col("doc_id"))
      .sortWithinPartitions("doc_id")
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        if (!rows.hasNext) Iterator.empty
        else {
          val tc = org.apache.spark.TaskContext.get()
          val shard = tc.partitionId()
          val c = conf()
          val fs = new org.apache.hadoop.fs.Path(base).getFileSystem(c)
          val dest = new org.apache.hadoop.fs.Path(f"$base/shard_$shard%04d.bin")
          // speculative/retried attempts must not interleave writes into
          // one file: each attempt writes an attempt-unique temp and
          // renames into place. The partition is hash-assigned and
          // sorted, so every attempt produces IDENTICAL bytes — the
          // index offsets are valid for whichever attempt's rename wins.
          val tmp = new org.apache.hadoop.fs.Path(
            f"$base/shard_$shard%04d.bin.attempt-${tc.taskAttemptId()}")
          val out = fs.create(tmp, true)
          var off = 0L
          val entries = try rows.map { case (id, bytes) =>
            out.write(bytes)
            val e = (id, shard, off, bytes.length.toLong)
            off += bytes.length
            e
          }.toList
          finally out.close()
          if (!fs.rename(tmp, dest)) fs.delete(tmp, false) // lost the race
          entries.iterator
        }
      }.toDF("doc_id", "shard", "offset", "length")
    // read back: index-driven byte-range seeks, shard handles reused
    // per partition (co-partitioned by shard so each opens few files)
    index.repartition(col("shard"))
      .as[(Long, Int, Long, Long)]
      .mapPartitions { rows =>
        val c = conf()
        val open = scala.collection.mutable.Map[Int, org.apache.hadoop.fs.FSDataInputStream]()
        val res = rows.map { case (id, shard, off, len) =>
          val in = open.getOrElseUpdate(shard,
            fs(c, base).open(new org.apache.hadoop.fs.Path(f"$base/shard_$shard%04d.bin")))
          val buf = new Array[Byte](len.toInt)
          in.readFully(off, buf)
          val md5 = java.security.MessageDigest.getInstance("MD5")
            .digest(buf).map("%02x".format(_)).mkString
          (id, len, md5)
        }.toList
        open.values.foreach(_.close())
        res.iterator
      }.toDF("doc_id", "n_bytes", "payload_md5")
      .orderBy("doc_id")
  }

  /** M6: binary payload dedup — the exact-dup pass every multimodal
    * pipeline runs before perceptual hashing: identical media bytes
    * (re-crawled images, mirrored assets) collapse to one stored copy,
    * reporting how many object-store bytes the dedup reclaims. ONE
    * shuffle on the 128-bit content hash; payload bytes never shuffle
    * (md5 + length are computed in the scan projection, and only
    * (hash, id, len) rows move — at 100 TB the payloads are the data,
    * so keeping them out of the exchange IS the plan). Input passes
    * through a deterministic re-ingest plant (every 9th doc carries
    * one of 3 shared payloads — a crawler re-delivering mirrored
    * media) so the gate is non-vacuous at every SF; the oracle
    * replays the identical derivation.
    */
  /** Deterministic media re-ingest plant for M6 (the
    * [[graft.operators.Dedup.withBoilerplate]] convention): every 9th
    * document's payload becomes one of 3 shared blobs — a crawler
    * re-delivering mirrored media — so the dedup gate is non-vacuous
    * at every SF. (doc_id/9) % 3, not doc_id % 3: a multiple of 9 is
    * always ≡ 0 mod 3, which would collapse the plant to one variant.
    * The oracle applies the identical derivation; production callers
    * hand their real media table to [[payloadDedup]] directly.
    */
  private[graft] def withMirroredMedia(docs: DataFrame): DataFrame = {
    val p = when(col("doc_id") % 9 === 0,
      concat(lit("MEDIA_"), (floor(col("doc_id") / 9).cast("long") % 3).cast("string")))
      .otherwise(col("text"))
    docs.select(col("doc_id"), encode(p, "UTF-8").as("payload"))
  }

  /** The M6 operator body over ANY (doc_id, payload) media table. */
  def payloadDedup(media: DataFrame): DataFrame =
    media
      .select(col("doc_id"), md5(col("payload")).as("payload_md5"),
        octet_length(col("payload")).cast("long").as("n_bytes"))
      .groupBy("payload_md5")
      .agg(count(lit(1)).as("n_copies"), min("doc_id").as("keep_id"),
        (sum("n_bytes") - min("n_bytes")).as("bytes_reclaimed"))
      .filter(col("n_copies") > 1)
      .orderBy("payload_md5")

  def mmDedup(spark: SparkSession, dir: String): DataFrame =
    payloadDedup(withMirroredMedia(Tables.load(spark, dir, "documents")))

  /** M10: block-level payload dedup — the storage-dedup primitive
    * UNDER exact-payload dedup (restic/borg/Venti): payloads are cut
    * into fixed `blockSize`-byte blocks and identical blocks dedup
    * ACROSS payloads, catching shared sub-content M6's whole-payload
    * md5 cannot see (the same asset embedded behind different
    * prefixes, containers sharing headers, append-only media
    * variants). The per-request-billed object store then keeps one
    * copy per distinct block plus a per-payload block index — M5's
    * shard+index layout at block granularity.
    *
    * Scale shape: block ids are born in the scan projection (the
    * payload explodes to per-block offsets NARROWLY, each block
    * hashes in place), so ONLY (hash, len) rows cross the one
    * shuffle — payload bytes never move, the M6 contract at block
    * granularity. Block id = md5 of the block's HEX rendering:
    * hex is injective so identity semantics are byte-exact, and it
    * is the cross-engine-checkable form (the oracle's engine has no
    * BLOB md5/substring — it slices the hex text at byte boundaries
    * and hashes the same characters; probed bit-equal including
    * case). Plant: every 7th doc carries one of two 512-byte shared
    * headers + a unique tail — partial sharing, exactly what
    * whole-payload dedup misses — so the gate is non-vacuous at
    * every SF and the oracle replays the derivation.
    */
  private[graft] def withSharedHeaderMedia(docs: DataFrame): DataFrame = {
    val variant = (floor(col("doc_id") / 7).cast("long") % 2).cast("string")
    val header = substring(
      repeat(concat(lit("HDR"), variant, lit("abcdefghijk")), 40), 1, 512)
    val p = when(col("doc_id") % 7 === 0,
      concat(header, lit("tail_"), col("doc_id").cast("string")))
      .otherwise(col("text"))
    docs.select(col("doc_id"), encode(p, "UTF-8").as("payload"))
  }

  /** The M10 operator body over ANY (doc_id, payload) media table. */
  def blockDedup(media: DataFrame, blockSize: Int = 256): DataFrame = {
    val nb = ceil(octet_length(col("payload")).cast("double") / blockSize).cast("int")
    media
      // empty payloads generate NO blocks: without the guard, Spark's
      // sequence(0, -1) silently produces a DESCENDING [0, -1] and two
      // phantom md5('')-blocks per empty payload (review r7 finding)
      .filter(octet_length(col("payload")) > 0)
      .select(col("doc_id"), col("payload"),
        explode(sequence(lit(0), nb - 1)).as("bi"))
      .select(
        md5(hex(col("payload").substr(col("bi") * blockSize + 1, lit(blockSize))))
          .as("block_md5"),
        octet_length(col("payload").substr(col("bi") * blockSize + 1, lit(blockSize)))
          .cast("long").as("block_bytes"))
      .groupBy("block_md5")
      .agg(count(lit(1)).as("n_copies"), max("block_bytes").as("block_bytes"),
        ((count(lit(1)) - 1) * max("block_bytes")).as("bytes_reclaimed"))
      .filter(col("n_copies") > 1)
      .orderBy("block_md5")
  }

  def mmBlockDedup(spark: SparkSession, dir: String): DataFrame =
    blockDedup(withSharedHeaderMedia(Tables.load(spark, dir, "documents")))

  /** Deterministic near-dup media plant for M7: every 28th document's
    * payload becomes a 1024-byte GROUP-periodic pattern (group g =
    * (doc_id/28) % 8 picks a distinct repeat period from a prime-ish
    * table, so groups have distinct block-energy profiles) with a
    * 2-byte member-specific overlay — the stand-in for the same image
    * re-encoded with slightly different bytes: byte-UNEQUAL (md5 dedup
    * misses it) but block-profile-EQUAL (the perceptual hash catches
    * it). All other documents keep their text bytes.
    */
  private[graft] def withNearDupMedia(docs: DataFrame): DataFrame = {
    val id28 = floor(col("doc_id") / 28).cast("long")
    val g = (id28 % 8).cast("int")
    val m = (id28 / 8).cast("int")
    val period = element_at(typedlit(Seq(3, 5, 7, 9, 11, 13, 17, 19)), g + 1)
    val base = substring(
      repeat(lit("abcdefghijklmnopqrstuvwxyz").substr(lit(1), period),
        (lit(1024) / period) + 1), 1, 1024)
    val artifact = concat(
      lit("0123456789").substr((m % 10) + 1, lit(1)),
      lit("0123456789").substr(((m / 10) % 10) + 1, lit(1)))
    val tweaked = overlay(base, artifact, (m % 127) * 8 + 1)
    val p = when(col("doc_id") % 28 === 0, tweaked).otherwise(col("text"))
    docs.select(col("doc_id"), encode(p, "UTF-8").as("payload"))
  }

  /** Blockhash-style perceptual signature of a binary payload: the
    * first `maxBytes` bytes are cut into `nBlocks` length-normalized
    * blocks, and bit b is set iff block b's unsigned byte-sum exceeds
    * the mean block sum (`nBlocks·sum(b) > total`) — scale- and
    * brightness-shift-robust in the image world, and pure byte
    * arithmetic here (no codecs). One codegen'd O(maxBytes) pass per
    * row ([[org.apache.spark.sql.graft.BlockhashSig]] — the Column/HOF
    * form re-evaluated its inner byte materialization per outer lambda
    * element, O(nBlocks²·maxBytes²) per row), born in the scan
    * projection; the payload bytes never reach any exchange.
    */
  private[graft] def blockhashSig(media: DataFrame, nBlocks: Int = 64,
                                  maxBytes: Int = 4096): DataFrame =
    media.select(col("doc_id"),
      org.apache.spark.sql.graft.ColumnShim.column(
        org.apache.spark.sql.graft.BlockhashSig(
          org.apache.spark.sql.graft.ColumnShim.expression(col("payload")),
          nBlocks, maxBytes)).as("sig"))

  /** M7: perceptual near-dup detection over ANY (doc_id, payload)
    * media table — closes the gap M6's exact md5 leaves: a re-encoded
    * or slightly-corrupted copy has different bytes but the same
    * block-energy profile.
    *
    * Shape is the D4 SimHash recipe: signatures band into `nBands`
    * 8-bit bands; candidate pairs share a band value (equi-join on
    * (band, value) — only (doc_id, sig, band) rows shuffle, payload
    * bytes never move); the exact verify is `bit_count(sig XOR sig)`
    * ≤ `maxHamming` on candidates only. With 8 bands over 64 bits,
    * any pair within hamming 7 differs in at most 7 bands, so at
    * least one band matches — banding is LOSSLESS for the ≤7
    * contract (pigeonhole, spec-pinned in Round10Spec vs a
    * brute-force all-pairs scan). Probabilistic-shaped output (no
    * SQL oracle for 64-bit band arithmetic in the gate) → rows-only
    * driver check + exactness spec.
    */
  def payloadNearDup(media: DataFrame, nBands: Int = 8,
                     maxHamming: Int = 7): DataFrame = {
    require(64 % nBands == 0, s"64 bits must split evenly into $nBands bands")
    val bitsPerBand = 64 / nBands
    require(maxHamming < nBands, "pigeonhole needs maxHamming < nBands")
    // spread BEFORE the signature pass: a single-file media table
    // arrives as one partition, and the O(maxBytes)-per-row signature
    // (plus the checkpoint write) must parallelize — measured 3.6 s of
    // one-task wall at sf0.1 otherwise
    val spread = media.repartition(
      media.sparkSession.sparkContext.defaultParallelism)
    val sigs = CheckpointIds.scoped(media.sparkSession)(cp => cp(blockhashSig(spread)))
    val mask = (1L << bitsPerBand) - 1
    val banded = sigs.select(col("doc_id"), col("sig"),
      explode(array((0 until nBands).map(j => struct(
        lit(j).as("band"),
        shiftrightunsigned(col("sig"), j * bitsPerBand)
          .bitwiseAND(lit(mask)).as("bval"))): _*)).as("bv"))
      .select(col("doc_id"), col("sig"),
        col("bv.band").as("band"), col("bv.bval").as("bval"))
    // verify INSIDE the join projection, before the dedup: the hamming
    // filter drops band-noise candidates (n·occupancy of them) right
    // where they are produced, so the distinct only shuffles true
    // near-dup pairs (≤ nBands copies each) — not the full candidate
    // stream with two 8-byte sigs riding along
    banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bval") === col("b.bval") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        bit_count(col("a.sig").bitwiseXOR(col("b.sig"))).cast("int").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
      .orderBy("doc_a", "doc_b")
  }

  def mmNearDup(spark: SparkSession, dir: String): DataFrame =
    payloadNearDup(withNearDupMedia(Tables.load(spark, dir, "documents")))

  /** M1: schema plumbing — binary payload + typed metadata, projected
    * without ever touching payload bytes (the pruning-friendly path).
    */
  /** M9: payload byte-entropy gate — the binary-corpus quality probe
    * that needs NO codec: Shannon entropy of the payload's byte
    * distribution separates structured media (well below 8 bits/
    * byte), text (~4.2 bits), and corrupt/encrypted/random blobs
    * (≈ 8 bits — maximal). A shard whose entropy distribution jumps
    * toward 8 is damaged or mis-encoded BEFORE any decoder runs;
    * this is the cheap first gate of a multimodal ingest (X24's
    * character entropy generalized to raw bytes).
    *
    * Engine trick: byte frequencies never need numeric byte values —
    * the 2-char hex pair IS the byte's identity, so `hex(payload)`
    * pairs group exactly like X24's characters and both engines
    * replay the identical micro-rounded entropy terms. Bytes are
    * touched once in the scan projection; only (doc, pair, count)
    * rows aggregate.
    */
  def mmEntropy(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.graft.{ByteEntropy, ColumnShim}
    // one compiled histogram pass per row (the native [[ByteEntropy]])
    // — the declarative hex-pair explode shuffled |payload| rows per
    // doc and benched ~10 s at sf0.1 for the same integer-exact answer
    mediaTable(spark, dir)
      .select(col("doc_id"),
        ColumnShim.column(ByteEntropy(ColumnShim.expression(col("payload")))).as("st"))
      .select(col("doc_id"), col("st.n_bytes").as("n_bytes"),
        col("st.n_distinct_bytes").as("n_distinct_bytes"),
        col("st.entropy_micro").as("entropy_micro"))
      .orderBy("doc_id")
  }

  def mmSchema(spark: SparkSession, dir: String): DataFrame =
    mediaTable(spark, dir)
      .select(
        col("doc_id"),
        col("meta.format").as("format"),
        col("meta.n_bytes").cast("long").as("n_bytes"),
        col("meta.width").as("width"))
      .orderBy("doc_id")

  private val featureSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("n_bytes", LongType),
    StructField("n_tokens", LongType),
    StructField("avg_token_len", DoubleType)))

  /** The stubbed decoder: batch of payloads in, feature rows out.
    * Real-codec version would decode image bytes and emit embeddings /
    * dimensions; the batch-iterator shape (one JNI context per
    * partition, streamed rows, no per-row setup cost) is the part that
    * matters for Spark.
    */
  private def decodeBatch(rows: Iterator[Row]): Iterator[Row] =
    rows.map { r =>
      val docId = r.getLong(0)
      val payload = r.getAs[Array[Byte]](1)
      val text = new String(payload, java.nio.charset.StandardCharsets.UTF_8)
      // limit -1 keeps trailing empty tokens — matches DuckDB
      // string_split / Spark sql split semantics, so the oracle holds
      // on trailing-whitespace documents too
      val toks = text.split(" ", -1)
      val avgLen =
        if (toks.isEmpty) 0.0
        else BigDecimal(toks.map(_.length).sum.toDouble / toks.length)
          .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      Row(docId, payload.length.toLong, toks.length.toLong, avgLen)
    }

  /** M2: batched feature extraction over the binary column via
    * `mapPartitions` — narrow, no shuffle, decoder amortized per
    * partition.
    */
  def mmFeatures(spark: SparkSession, dir: String): DataFrame = {
    val media = mediaTable(spark, dir).select("doc_id", "payload")
    val out = spark.createDataFrame(
      media.rdd.mapPartitions(decodeBatch), featureSchema)
    out.orderBy("doc_id")
  }

  /** M3: deterministic stride sampling of payload bytes (the
    * frame-sample analogue: every `stride`-th byte ≈ every k-th frame).
    * Pure column expressions — the sample indices come from `sequence`,
    * extraction via `substring` on the binary, so it codegens and never
    * leaves the scan stage.
    */
  def mmSample(spark: SparkSession, dir: String, stride: Int = 16): DataFrame = {
    val n = octet_length(col("payload"))
    val idx = sequence(lit(1), n, lit(stride))
    val sampled = transform(idx, i =>
      // raw byte value of the 1-byte slice at offset i: hex-pair →
      // base-16 conv. True byte semantics — no charset decode, so
      // multi-byte UTF-8 payloads sample correctly too
      conv(hex(substring(col("payload"), i, lit(1))), 16, 10).cast("long"))
    mediaTable(spark, dir)
      .select(
        col("doc_id"),
        size(idx).cast("long").as("n_sampled"),
        element_at(sampled, 1).as("first_byte"),
        aggregate(sampled, lit(0L), (acc, b) => acc + b).as("checksum"))
      .orderBy("doc_id")
  }

  /** M11: payload integrity audit — Merkle-style chained block digests
    * with corrupted-replica LOCALIZATION: each payload is digested as
    * fixed-size blocks (md5 per block, root = md5 of the concatenated
    * block hashes — the torrent/par2/object-store-etag-with-parts
    * scheme), and a replica of the corpus is audited against the
    * original by root comparison, localizing the FIRST corrupt block
    * for targeted re-fetch. At 100 TB the point is the block
    * granularity: a root mismatch alone forces re-reading the whole
    * object, the block index re-reads one `blockSize` range (M5's
    * byte-range seek).
    *
    * The audit demo plants bit-rot deterministically (every 23rd doc
    * gets ONE byte overwritten at a doc_id-derived offset — '#', or
    * '@' if the original byte was already '#'), so detection is
    * non-vacuous at every SF; the oracle replays plant and digests on
    * the same bytes (ASCII corpus: codepoint ops ≡ byte ops).
    *
    * Shape: pure column expressions over the payload in the scan
    * projection (sequence → transform → md5 of binary substrings) —
    * payload bytes never shuffle; only (doc_id, hashes) rows move.
    */
  def mmIntegrity(spark: SparkSession, dir: String,
                  blockSize: Int = 64): DataFrame =
    integrityOf(mediaTable(spark, dir).select(col("doc_id"), col("payload")),
      blockSize)

  /** [[mmIntegrity]]'s core over ANY (doc_id, payload BINARY) media
    * frame — split out so specs can feed hand payloads and pin the
    * localization arithmetic (corrupt offset → block index).
    */
  private[graft] def integrityOf(media: DataFrame,
                                 blockSize: Int): DataFrame = {
    val len = octet_length(col("payload"))
    // 1-based corrupt offset inside the payload, derived from doc_id
    // (greatest guards the empty-payload edge: % 0 is null)
    val pos = (col("doc_id") % greatest(len, lit(1))).cast("int") + 1
    val origByte = conv(hex(col("payload").substr(pos, lit(1))), 16, 10)
    val flip = when(origByte === 35, lit("@")).otherwise(lit("#"))
    val corrupted = concat(
      col("payload").substr(lit(1), (pos - 1).cast("int")),
      encode(flip, "UTF-8"),
      col("payload").substr(pos + 1, (len - pos).cast("int")))
    // empty payloads are never corrupt-planted (there is no byte to
    // flip; the oracle's substr arithmetic agrees only on len > 0)
    val received = when(col("doc_id") % 23 === 0 && len > 0, corrupted)
      .otherwise(col("payload"))
    // n>0 guard: Spark's sequence(0, -1) DESCENDS (default step -1,
    // yielding [0, -1]) instead of returning empty like the oracle's
    // range(0, 0) — an empty payload must digest to zero blocks
    def blockHashes(c: org.apache.spark.sql.Column) = {
      val nb = ((octet_length(c) + blockSize - 1) / blockSize).cast("int")
      when(nb > 0,
        transform(sequence(lit(0), nb - 1),
          i => md5(c.substr(i * blockSize + 1, lit(blockSize)))))
        .otherwise(array().cast("array<string>"))
    }
    val apos = array_position(zip_with(col("h_orig"), col("h_recv"),
      (a, b) => a =!= b), true)
    media
      .withColumn("h_orig", blockHashes(col("payload")))
      .withColumn("h_recv", blockHashes(received))
      .select(
        col("doc_id"),
        size(col("h_orig")).cast("long").as("n_blocks"),
        md5(array_join(col("h_orig"), "")).as("root_md5"),
        (md5(array_join(col("h_orig"), "")) =!= md5(array_join(col("h_recv"), "")))
          .as("is_corrupted"),
        // 1-based index of the first differing block, 0 = clean
        // (array_position's no-hit 0 kept as-is: a NULL here turns the
        // whole column float under pandas-side consumers)
        apos.cast("long").as("first_bad_block"))
      .orderBy("doc_id")
  }
}
