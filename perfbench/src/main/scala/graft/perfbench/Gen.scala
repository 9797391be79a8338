package graft.perfbench

import java.io.File

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.avro.Schema
import org.apache.avro.file.{CodecFactory, DataFileWriter}
import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One source row of the reference's `hudi_delta_test` table as the CDC
  * stream last described it. `updated`/`created` are epoch seconds. */
final case class Rec(pk: Int, name: String, value: Int, updated: Long, created: Long,
    deleted: Boolean, changeType: String)

/** Mix of one landed CDC batch, as shares of its events. */
final case class Mix(updates: Double, inserts: Double, deletes: Double, dups: Double)

/** Seeded Datastream CDC source for the reference table, scaled up from its
  * 5 rows. Every event gets its own second on a shared clock, so
  * precombine on `updated_at` never ties (Normalize.ingest truncates to
  * seconds). Deletes carry the deleted row with a fresh `updated_at`.
  * `recentBias` is the share of updates drawn from the newest tenth of the
  * key range (the rest are uniform over live keys). */
final class CdcGen(seed: Long, recentBias: Double) {
  private val rnd = new java.util.Random(seed)
  val rows = mutable.HashMap.empty[Int, Rec]
  private val live = ArrayBuffer.empty[Int]
  private val livePos = mutable.HashMap.empty[Int, Int]
  private var nextPk = 1
  private var clock = 0L
  private var logPos = 4L

  private def tick(): Long = { clock += 1; CdcGen.Base + clock }
  private def addLive(pk: Int): Unit = { livePos(pk) = live.size; live += pk }
  private def dropLive(pk: Int): Unit = {
    val i = livePos.remove(pk).get
    val last = live.remove(live.size - 1)
    if (last != pk) { live(i) = last; livePos(last) = i }
  }
  private def name(): String = CdcGen.Names(rnd.nextInt(CdcGen.Names.length))

  def backfill(n: Int): Seq[Rec] = (1 to n).map { _ =>
    val t = tick()
    val r = Rec(nextPk, name(), rnd.nextInt(1000), t, t, deleted = false, "INSERT")
    rows(nextPk) = r; addLive(nextPk); nextPk += 1
    r
  }

  private def pickUpdateKey(): Int =
    if (rnd.nextDouble() < recentBias) {
      // newest tenth of the key range, retried until a live key is hit
      var k = -1
      var tries = 0
      val span = math.max(1, (nextPk - 1) / 10)
      while (k < 0 && tries < 20) {
        val c = nextPk - 1 - rnd.nextInt(span)
        if (livePos.contains(c)) k = c
        tries += 1
      }
      if (k < 0) live(rnd.nextInt(live.size)) else k
    } else live(rnd.nextInt(live.size))

  /** One batch of `size` events in source order. */
  def batch(size: Int, mix: Mix): Seq[Rec] = {
    val out = ArrayBuffer.empty[Rec]
    val touched = ArrayBuffer.empty[Int]
    val deletedNow = mutable.HashSet.empty[Int]
    def update(pk: Int): Unit = {
      val old = rows(pk)
      val r = old.copy(name = name(), value = rnd.nextInt(1000), updated = tick(),
        changeType = "UPDATE-INSERT")
      rows(pk) = r; out += r; touched += pk
    }
    while (out.size < size) {
      val u = rnd.nextDouble()
      if (u < mix.inserts) {
        val t = tick()
        val r = Rec(nextPk, name(), rnd.nextInt(1000), t, t, deleted = false, "INSERT")
        rows(nextPk) = r; addLive(nextPk); touched += nextPk; nextPk += 1
        out += r
      } else if (u < mix.inserts + mix.deletes && live.size > 1) {
        val pk = live(rnd.nextInt(live.size))
        if (!touched.contains(pk)) {
          val r = rows(pk).copy(updated = tick(), deleted = true, changeType = "DELETE")
          rows(pk) = r; dropLive(pk); deletedNow += pk
          out += r
        }
      } else if (u < mix.inserts + mix.deletes + mix.dups && touched.nonEmpty) {
        val pk = touched(rnd.nextInt(touched.size))
        if (!deletedNow.contains(pk)) update(pk)
      } else {
        val pk = pickUpdateKey()
        if (!deletedNow.contains(pk)) update(pk)
      }
    }
    out.toSeq
  }

  /** Live rows (not deleted): the MERGE target's expected state. */
  def liveRows: Iterator[Rec] = live.iterator.map(rows)

  /** A live key, seeded. */
  def someLiveKey(): Int = live(rnd.nextInt(live.size))

  def nextLogPos(): Long = { logPos += 1; logPos }
}

object CdcGen {
  /** 2023-01-12 04:00:00 UTC, the reference's backfill hour. */
  val Base = 1673496000L
  val Names: Array[String] = Array("apple", "samsung", "dell", "motorola", "htc",
    "lenovo", "asus", "acer", "nokia", "sony", "xiaomi", "oppo", "vivo", "lg", "hp")

  private val tsMicros = """{"type":"long","logicalType":"timestamp-micros"}"""
  private def opt(t: String) = s"""["null",$t]"""

  /** The Datastream envelope as an Avro schema (Envelope.schema's fields). */
  val AvroSchema: Schema = new Schema.Parser().parse(
    s"""{"type":"record","name":"hudi_delta_test","namespace":"datastream","fields":[
       |{"name":"uuid","type":${opt("\"string\"")}},
       |{"name":"read_timestamp","type":${opt(tsMicros)}},
       |{"name":"source_timestamp","type":${opt(tsMicros)}},
       |{"name":"object","type":${opt("\"string\"")}},
       |{"name":"read_method","type":${opt("\"string\"")}},
       |{"name":"stream_name","type":${opt("\"string\"")}},
       |{"name":"schema_key","type":${opt("\"string\"")}},
       |{"name":"sort_keys","type":${opt("""{"type":"array","items":{"type":"record","name":"sort_key","fields":[{"name":"member0","type":["null","string"]},{"name":"member1","type":["null","long"]}]}}""")}},
       |{"name":"source_metadata","type":${opt("""{"type":"record","name":"source_metadata","fields":[
       |  {"name":"table","type":["null","string"]},{"name":"database","type":["null","string"]},
       |  {"name":"primary_keys","type":["null",{"type":"array","items":"string"}]},
       |  {"name":"log_file","type":["null","string"]},{"name":"log_position","type":["null","long"]},
       |  {"name":"change_type","type":["null","string"]},{"name":"is_deleted","type":["null","boolean"]}]}""")}},
       |{"name":"payload","type":${opt(s"""{"type":"record","name":"payload","fields":[
       |  {"name":"pk_id","type":["null","int"]},{"name":"name","type":["null","string"]},
       |  {"name":"value","type":["null","int"]},{"name":"updated_at","type":${opt(tsMicros)}},
       |  {"name":"created_at","type":${opt(tsMicros)}}]}""")}}
       |]}""".stripMargin)

  private def sub(name: String): Schema =
    AvroSchema.getField(name).schema().getTypes.get(1)

  /** Land `recs` as `files` Avro files under `dir`; returns bytes landed. */
  def land(dir: String, recs: Seq[Rec], files: Int, backfill: Boolean, gen: CdcGen): Long = {
    new File(dir).mkdirs()
    val metaS = sub("source_metadata")
    val payS = sub("payload")
    val sortS = sub("sort_keys").getElementType
    val method = if (backfill) "mysql-backfill-fulldump" else "mysql-cdc-binlog"
    val chunk = math.max(1, (recs.size + files - 1) / files)
    recs.grouped(chunk).zipWithIndex.map { case (part, i) =>
      val f = new File(dir, f"part-$i%03d.avro")
      val w = new DataFileWriter[GenericRecord](new GenericDatumWriter[GenericRecord](AvroSchema))
      w.setCodec(CodecFactory.deflateCodec(1))
      w.create(AvroSchema, f)
      part.foreach { r =>
        val readTs = r.updated * 1000000L + 7000000L
        val pos = gen.nextLogPos()
        val sk = new GenericData.Record(sortS)
        sk.put("member0", "mysql-bin.000001"); sk.put("member1", pos)
        val meta = new GenericData.Record(metaS)
        meta.put("table", "hudi_delta_test"); meta.put("database", "demo")
        meta.put("primary_keys", java.util.List.of("pk_id"))
        meta.put("log_file", if (backfill) null else "mysql-bin.000001")
        meta.put("log_position", if (backfill) 0L else pos)
        meta.put("change_type", r.changeType); meta.put("is_deleted", r.deleted)
        val pay = new GenericData.Record(payS)
        pay.put("pk_id", r.pk); pay.put("name", r.name); pay.put("value", r.value)
        pay.put("updated_at", r.updated * 1000000L); pay.put("created_at", r.created * 1000000L)
        val e = new GenericData.Record(AvroSchema)
        e.put("uuid", java.util.UUID.nameUUIDFromBytes(s"$method-${r.pk}-${r.updated}".getBytes).toString)
        e.put("read_timestamp", readTs); e.put("source_timestamp", readTs)
        e.put("object", "demo_hudi_delta_test"); e.put("read_method", method)
        e.put("stream_name", "projects/111/locations/us-central1/streams/demo-stream")
        e.put("schema_key", "demo_schema")
        e.put("sort_keys", java.util.List.of(sk))
        e.put("source_metadata", meta); e.put("payload", pay)
        w.append(e)
      }
      w.close()
      f.length()
    }.sum
  }
}

/** Seeded analytic fixtures shaped like the sf0.1 tables the old bench
  * read (orders, customer, documents, embeddings), generated in place so
  * the benchmark reads nothing outside its own work directory. */
object Fixtures {

  val Segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")

  private def h(seed: Long, salt: Int, c: org.apache.spark.sql.Column) =
    pmod(xxhash64(c, lit(seed), lit(salt)), lit(Long.MaxValue))

  /** `n` orders over customer keys `0 until custRange`. */
  def orders(spark: SparkSession, seed: Long, n: Long, custRange: Long): DataFrame =
    spark.range(n).select(
      col("id").as("o_orderkey"),
      pmod(h(seed, 1, col("id")), lit(custRange)).as("o_custkey"),
      element_at(array(lit("O"), lit("F"), lit("P")),
        (pmod(h(seed, 2, col("id")), lit(3L)) + 1).cast("int")).as("o_orderstatus"),
      (pmod(h(seed, 3, col("id")), lit(50000000L)) / 100.0 + 900.0).as("o_totalprice"),
      timestamp_seconds(lit(694224000L) +
        pmod(h(seed, 4, col("id")), lit(2400L)) * 86400L).as("o_orderdate"),
      concat(pmod(h(seed, 5, col("id")), lit(5L)) + 1, lit("-PRIO")).as("o_orderpriority"))

  def customers(spark: SparkSession, seed: Long, n: Long): DataFrame =
    spark.range(n).select(
      col("id").as("c_custkey"),
      format_string("Customer#%09d", col("id")).as("c_name"),
      pmod(h(seed, 11, col("id")), lit(25L)).cast("int").as("c_nationkey"),
      (pmod(h(seed, 12, col("id")), lit(1100000L)) / 100.0 - 999.99).as("c_acctbal"),
      element_at(array(Segments.map(lit): _*),
        (pmod(h(seed, 13, col("id")), lit(Segments.size.toLong)) + 1).cast("int"))
        .as("c_mktsegment"))

  val Vocab: Array[String] = ("batch part spark line column order small sort fast value scan a " +
    "hash slow group agg filter query big key window row table stream merge data vector " +
    "join dup index commit log file snapshot delta base compact read write shuffle task " +
    "stage plan driver cache probe bloom range bucket schema").split(" ")

  /** Documents: random word sequences, a tenth of them near-copies of an
    * earlier document (two words replaced) and a fiftieth exact copies, so
    * the dedup operators have pairs to find. */
  def documents(seed: Long, n: Int, firstId: Long = 0L,
      corpus: IndexedSeq[String] = IndexedSeq.empty): IndexedSeq[(Long, String)] = {
    val rnd = new java.util.Random(seed)
    val out = ArrayBuffer.empty[String]
    def pool(i: Int): String = if (i < corpus.size) corpus(i) else out(i - corpus.size)
    (0 until n).foreach { i =>
      val have = corpus.size + out.size
      val u = rnd.nextDouble()
      val text =
        if (have > 10 && u < 0.02) pool(rnd.nextInt(have))
        else if (have > 10 && u < 0.12) {
          val w = pool(rnd.nextInt(have)).split(" ")
          (0 until 2).foreach(_ => w(rnd.nextInt(w.length)) = Vocab(rnd.nextInt(Vocab.length)))
          w.mkString(" ")
        } else {
          val len = 20 + rnd.nextInt(60)
          Array.fill(len)(Vocab(rnd.nextInt(Vocab.length))).mkString(" ")
        }
      out += text
    }
    out.toIndexedSeq.zipWithIndex.map { case (t, i) => (firstId + i, t) }
  }

  /** `n` unit-ish vectors of dimension `dim` around 16 seeded centres. */
  def embeddings(seed: Long, n: Int, dim: Int): IndexedSeq[(Long, Array[Float])] = {
    val rnd = new java.util.Random(seed)
    val centres = Array.fill(16, dim)(rnd.nextGaussian().toFloat)
    (0 until n).map { i =>
      val c = centres(rnd.nextInt(centres.length))
      (i.toLong, Array.tabulate(dim)(d => c(d) + 0.6f * rnd.nextGaussian().toFloat))
    }
  }
}
