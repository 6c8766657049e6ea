package perfbench

import org.apache.spark.sql.{Column, DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** Seeded input generators. Every random draw is a hash of
  * (seed, row id, draw index), so a seed gives the same rows whatever the
  * partitioning, and generation runs as ordinary parallel Spark jobs.
  */
object Gen {
  /** Uniform [0, 1) from the top 53 bits of xxhash64(seed, key, k). */
  def u(seed: Long, key: Column, k: Int): Column =
    shiftrightunsigned(xxhash64(lit(seed), key, lit(k)), 11).cast("double") / lit(math.pow(2, 53))

  def pick(values: Seq[String], r: Column): Column =
    element_at(typedLit(values), (floor(r * values.size) + 1).cast("int"))
}

/** Ground truth of a generated transaction CSV (FIXTURES.md §A). */
final case class TxnTruth(
    rawRows: Long, malformed: Long, nullTs: Long, testRows: Long, testComplete: Long) {
  def cleanRows: Long = rawRows - malformed
}

object TxnGen {
  val Header: String = Seq("transaction_id", "timestamp", "sender_account", "receiver_account",
    "amount", "transaction_type", "merchant_category", "location", "device_used", "is_fraud",
    "fraud_type", "time_since_last_transaction", "spending_deviation_score", "velocity_score",
    "geo_anomaly_score", "payment_channel", "ip_address", "device_hash").mkString(",")

  val Accounts = 20000
  private val Start = java.time.Instant.parse("2023-09-29T00:00:00Z")
  private val Split = java.time.Instant.parse("2023-10-20T12:00:00Z")
  private def micros(i: java.time.Instant): Long = i.getEpochSecond * 1000000L
  private val SpanMicros = 42L * 86400L * 1000000L

  /** Writes `rows` CSV data lines under `dir` as `files` files, each with
    * a header. Senders are Zipf-skewed (P(rank k) ~ 1/k); about 3.6% of
    * rows are fraud, with larger amounts, higher deviation, geo anomaly
    * and velocity scores and shorter gaps; 18% of gaps are null. Planted:
    * 0.02% malformed rows (half a wrong column count, half an unparsable
    * timestamp), 0.005% empty timestamps, 0.1% rows exactly at the
    * chronological split instant. Rows run in time order over 2023, as
    * in an append-only export, so each file covers a contiguous period.
    */
  def generate(spark: SparkSession, dir: String, seed: Long, rows: Long, files: Int): TxnTruth = {
    def r(k: Int) = Gen.u(seed, col("id"), k)
    def normal(k: Int) = sqrt(lit(-2.0) * log(r(k) + lit(1e-12))) * cos(lit(2 * math.Pi) * r(k + 1))
    def fmt2(c: Column) = format_string("%.2f", c)
    val base = spark.range(0, rows, 1, files)
      .withColumn("kind",
        when(r(0) < 0.0001, "bad_cols")
          .when(r(0) < 0.0002, "bad_ts")
          .when(r(0) < 0.00025, "null_ts")
          .when(r(0) < 0.00125, "at_split")
          .otherwise("ok"))
      .withColumn("fraud", r(2) < 0.036)
      .withColumn("ts_us",
        when(col("kind") === "at_split", lit(micros(Split)))
          .when(col("kind") === "null_ts", lit(null).cast("long"))
          .otherwise(lit(micros(Start)) +
            ((col("id").cast("double") + r(4)) / rows * SpanMicros).cast("long")))
      .withColumn("gap",
        when(r(5) < 0.18, lit(null).cast("double"))
          .otherwise(r(6) * when(col("fraud"), 3600.0).otherwise(86400.0)))
    val lines = base.select(col("kind"), col("ts_us"), col("gap"),
      when(col("kind") === "bad_cols",
        concat(lit("T"), col("id").cast("string"), lit(",garbage,row")))
        .otherwise(concat_ws(",",
          concat(lit("T"), lpad(col("id").cast("string"), 10, "0")),
          when(col("kind") === "bad_ts", lit("not-a-timestamp"))
            .otherwise(coalesce(
              date_format(timestamp_micros(col("ts_us")), "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"),
              lit(""))),
          format_string("ACC%06d",
            least(floor(exp(r(7) * math.log(Accounts.toDouble))), lit(Accounts)).cast("int")),
          format_string("ACC%06d", (floor(r(8) * Accounts) + 1).cast("int")),
          fmt2(exp(when(col("fraud"), 4.6).otherwise(3.8) + normal(9) * 0.9)),
          Gen.pick(Seq("deposit", "payment", "transfer", "withdrawal"), r(11)),
          Gen.pick(Seq("entertainment", "grocery", "online", "other", "restaurant", "retail",
            "travel", "utilities"), r(12)),
          Gen.pick(Seq("Berlin", "Dubai", "London", "New York", "Singapore", "Sydney", "Tokyo",
            "Toronto"), r(13)),
          Gen.pick(Seq("atm", "mobile", "pos", "web"), r(14)),
          col("fraud").cast("string"),
          when(col("fraud"), lit("card_not_present")).otherwise(lit("")),
          when(col("gap").isNull, lit("")).otherwise(fmt2(col("gap"))),
          fmt2(normal(15) + when(col("fraud"), 0.9).otherwise(0.0)),
          (floor(r(17) * 12) + when(col("fraud"), 4).otherwise(1)).cast("string"),
          fmt2(when(col("fraud"), r(18) * 0.7 + 0.3).otherwise(r(18) * 0.8)),
          Gen.pick(Seq("ACH", "UPI", "card", "wire_transfer"), r(19)),
          format_string("10.%d.%d.%d", (floor(r(20) * 256)).cast("int"),
            (floor(r(21) * 256)).cast("int"), (floor(r(22) * 256)).cast("int")),
          format_string("D%07d", (floor(r(23) * 1e7)).cast("int"))))
        .as("line"))
      .cache()
    try {
      val header = Header
      lines.select("line").as(Encoders.STRING)
        .mapPartitions(it => Iterator(header) ++ it)(Encoders.STRING)
        .write.mode("overwrite").text(dir)
      val splitUs = micros(Split)
      val isMalformed = col("kind").isin("bad_cols", "bad_ts")
      val inTest = !isMalformed && col("ts_us").isNotNull && col("ts_us") >= splitUs
      def n(c: Column) = sum(when(c, 1L).otherwise(0L))
      val t = lines.agg(count(lit(1)), n(isMalformed), n(col("kind") === "null_ts"),
        n(inTest), n(inTest && col("gap").isNotNull)).head()
      TxnTruth(t.getLong(0), t.getLong(1), t.getLong(2), t.getLong(3), t.getLong(4))
    } finally lines.unpersist()
  }
}

/** Synthetic corpus in the schema of the test data's `documents` table
  * (doc_id, text, lang, source, n_chars): bags of words from a syllable
  * vocabulary mixed with each language's stopwords, 20 sources.
  * A document's words are a function of its text key alone, so an exact
  * copy is a row that reuses another row's key, and a near-duplicate
  * revision reuses the key and replaces about 6% of its words.
  */
object CorpusGen {
  val Langs: Seq[String] = Seq("en", "en", "en", "fr", "de", "es")

  val Vocab: Seq[String] = {
    val syl = Seq("ka", "lo", "mi", "ren", "tas", "vo", "pel", "dri", "sun", "ak", "zo", "bri",
      "nel", "tor", "ui", "fam", "gra", "hes", "jun", "qua")
    for (a <- syl; b <- syl; c <- Seq("", "s", "ta", "n")) yield a + b + c
  }

  /** A document's text from its key; `revSalt` >= 0 replaces ~6% of the
    * words with words drawn from the salt.
    */
  def text(seed: Long, key: Column, revSalt: Column): Column = {
    val lang = Gen.pick(Langs, Gen.u(seed, key, 1))
    val nWords = (floor(Gen.u(seed, key, 2) * 70) + 20).cast("int")
    val stops = TextFunctions.Stopwords
    val stopArr = stops.keys.toSeq.sorted.foldLeft(typedLit(stops("en"))) { (acc, l) =>
      when(lang === l, typedLit(stops(l))).otherwise(acc)
    }
    val vocab = typedLit(Vocab)
    val words = transform(sequence(lit(0), nWords - 1), i => {
      val h = xxhash64(lit(seed), key, i)
      val stop = pmod(h, lit(100L)) < 30
      val word = when(stop, element_at(stopArr, (pmod(shiftright(h, 8), lit(10L)) + 1).cast("int")))
        .otherwise(element_at(vocab, (pmod(shiftright(h, 8), lit(Vocab.size.toLong)) + 1).cast("int")))
      val revise = revSalt >= 0 && pmod(xxhash64(lit(seed), revSalt, i), lit(100L)) < 6
      when(revise, element_at(vocab,
        (pmod(xxhash64(lit(seed + 1), revSalt, i), lit(Vocab.size.toLong)) + 1).cast("int")))
        .otherwise(word)
    })
    array_join(words, " ")
  }

  /** doc rows from (doc_id, key, rev) rows. */
  def docs(seed: Long, plan: DataFrame): DataFrame =
    plan
      .withColumn("text", text(seed, col("key"), col("rev")))
      .select(
        col("doc_id"), col("text"),
        Gen.pick(Langs, Gen.u(seed, col("key"), 1)).as("lang"),
        concat(lit("src"), (pmod(xxhash64(lit(seed), col("key"), lit(3)), lit(20L))).cast("string"))
          .as("source"),
        length(col("text")).cast("long").as("n_chars"))

  /** Originals of an `n`-doc corpus: doc ids [0, originals(n)). */
  def originals(n: Long): Long = (n * 0.85).toLong

  /** The corpus plan: `n` docs, 85% originals, 8% exact copies and 7%
    * near-duplicate revisions of originals. Columns: doc_id, key (the
    * original's doc_id for copies and revisions), rev (-1 unless a
    * revision), kind.
    */
  def prepPlan(spark: SparkSession, seed: Long, n: Long, files: Int): DataFrame = {
    val originals = CorpusGen.originals(n)
    val copies = (n * 0.08).toLong
    val target = floor(Gen.u(seed, col("id"), 4) * originals).cast("long")
    spark.range(0, n, 1, files).select(
      col("id").as("doc_id"),
      when(col("id") < originals, col("id")).otherwise(target).as("key"),
      when(col("id") >= originals + copies, col("id")).otherwise(lit(-1L)).as("rev"),
      when(col("id") < originals, "original")
        .when(col("id") < originals + copies, "copy")
        .otherwise("revision").as("kind"))
  }

  /** Doc ids of increment batch b start at b * BatchStride. */
  val BatchStride = 1000000L

  /** Increment batch `b` of `m` docs: 70% novel, 20% exact copies of
    * history docs, 10% near-duplicate revisions of history docs. kind is
    * novel, copy or revision. History docs are doc ids [0, history)
    * whose text key is their id.
    */
  def batchPlan(spark: SparkSession, seed: Long, b: Int, m: Int, history: Long): DataFrame = {
    val id = col("id")
    val j = id - lit(b * BatchStride)
    val novel = (m * 0.7).toLong
    val copies = (m * 0.9).toLong
    spark.range(b * BatchStride, b * BatchStride + m, 1, 2).select(
      id.as("doc_id"),
      when(j < novel, id).otherwise(floor(Gen.u(seed, id, 4) * history).cast("long")).as("key"),
      when(j >= copies, id).otherwise(lit(-1L)).as("rev"),
      when(j < novel, "novel").when(j < copies, "copy").otherwise("revision").as("kind"))
  }
}
