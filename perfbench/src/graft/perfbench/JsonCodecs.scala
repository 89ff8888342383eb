package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.SplittableRandom

import scala.collection.parallel.CollectionConverters._
import scala.jdk.CollectionConverters._

import graft.codecs.{Codecs, JsonCodec}
import graft.core.IO
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession

/** The paper's codec lifecycle over two generated corpora.
  *
  * `events` is the reference's events shape at NDV 0.1, the one shape
  * `ShreddedCodec.events` declares, so all four codecs run on it. `nested`
  * carries the stressors of the reference's twitter, citm and canada
  * corpora (depth ≥ 5, arrays of objects, float arrays, numeric-string
  * keys, unicode and escapes, big integers beside `id_str`, nulls) at
  * NDV ≈ 1 and about the same bytes; the three schemaless codecs run on it.
  *
  * A pass, per corpus and codec: ingest (readNdjson → encode → flush),
  * load → decode, load → get of the planted path, each forced through the
  * noop sink. The reference's EP3 lookups c09–c12 run after them as four
  * more operations, timed apart from the pass.
  */
final class JsonCodecs(spark: SparkSession, root: String, seed: Long)
    extends Workload(spark, root, seed) {
  import JsonCodecs._
  import Main.{force, timed}

  // A pass is 35 sub-second Spark jobs; pass times keep falling for two
  // passes after the cold one, and vary by about 7 % once steady.
  def warmPasses: Int = 3
  def minPasses: Int = 3

  private val corpora = Seq(
    Corpus("events", Seq("plain_json", "variant", "jsonc", "shredded"), Seq("timestamp")),
    Corpus("nested", Seq("plain_json", "variant", "jsonc"), Seq("search_metadata", "max_id_str")))
  private val lines = scala.collection.mutable.Map.empty[String, Array[String]]
  private val planted = scala.collection.mutable.Map.empty[String, Array[String]]
  private var ep3Results = Map.empty[String, Seq[(String, String)]]

  private def input(c: Corpus) = s"$root/input/${c.name}"
  private def out(c: Corpus, codec: String) = s"$root/out/${c.name}/$codec"

  def generate(): Unit = {
    val r = new SplittableRandom(seed)
    val events = eventsCorpus(EventsDocs, r.split())
    val nested = nestedCorpus(NestedDocs, r.split())
    for ((name, docs) <- Seq("events" -> events, "nested" -> nested)) {
      lines(name) = docs.map(_._1)
      planted(name) = docs.map(_._2)
      val dir = Paths.get(s"$root/input/$name")
      Files.createDirectories(dir)
      val per = (docs.length + InputFiles - 1) / InputFiles
      docs.map(_._1).grouped(per).zipWithIndex.foreach { case (part, k) =>
        Files.write(dir.resolve(f"part-$k%05d.json"), part.toSeq.asJava, UTF_8)
      }
    }
  }

  def pass(): Pass = {
    val steps = Map.newBuilder[String, Double]
    var write, read = 0.0
    var ops = 0
    for (c <- corpora; name <- c.codecs) {
      val codec = Codecs(name)
      val key = s"codecs.${c.name}.$name"
      val ingest = timed(codec.flush(codec.encode(IO.readNdjson(spark, input(c))), out(c, name)))
      val decode = timed(force(codec.decode(codec.load(spark, out(c, name)))))
      val get = timed(force(codec.get(codec.load(spark, out(c, name)), c.path)))
      steps ++= Seq(s"$key.ingest_s" -> ingest, s"$key.decode_s" -> decode, s"$key.get_s" -> get)
      write += ingest
      read += decode + get
      ops += 3
    }
    var failed = 0
    val ep3 = timed {
      ep3Results = Ep3.keys.toSeq.flatMap { q =>
        try Some(q -> graft.SparkEntry.queries(q)(spark, s"$root/input").collect()
          .map(r => (r.getString(0), r.getString(1))).toSeq)
        catch { case _: Exception => failed += 1; None }
      }.toMap
    }
    steps += "ep3.lookup_s" -> ep3
    Pass(write, read, ops + Ep3.size, failed, steps.result())
  }

  def endPass(): Unit = ()

  def storedRatio(): Double = {
    val stored = for (c <- corpora; name <- c.codecs) yield Main.parquetBytes(out(c, name))
    val inputBytes = corpora.map(c => Main.walkBytes(input(c))).sum
    stored.sum.toDouble / inputBytes
  }

  def check(): Seq[String] = {
    val problems = Seq.newBuilder[String]
    for (c <- corpora; name <- c.codecs) {
      val codec = Codecs(name)
      val what = s"${c.name}/$name"
      val src = lines(c.name)
      val decoded = codec.decode(codec.load(spark, out(c, name))).collect().map(_.getString(0))
      if (decoded.length != src.length)
        problems += s"$what: load has ${decoded.length} rows, generated ${src.length}"
      if (name == "plain_json") {
        if (!(decoded.sorted sameElements src.sorted)) problems += s"$what: decode not byte-identical"
      } else {
        val byKey = src.iterator.zip(planted(c.name).iterator).map(_.swap).toMap
        val asDouble = name != "variant"
        val bad = decoded.par.filter { d =>
          val v = Json.parse(d)
          val orig = byKey.get(plantedValue(v, c.path))
          !orig.exists(o => Json.same(Json.parse(o), v, asDouble))
        }
        if (bad.nonEmpty)
          problems += s"$what: ${bad.length} of ${decoded.length} decoded docs differ from " +
            s"the input, first: ${bad.headOption.getOrElse("").take(300)}"
      }
      val got = codec.get(codec.load(spark, out(c, name)), c.path).collect().map(_.getString(0))
      val want = planted(c.name).map(v => if (name == "jsonc") Json.quote(v) else v)
      if (!(got.sorted sameElements want.sorted)) problems += s"$what: get(${c.path.mkString(".")}) " +
        s"differs from the planted values (${got.take(2).mkString(", ")})"
    }
    val size = corpora.head.codecs.map(k => k -> Main.parquetBytes(out(corpora.head, k))).toMap
    for (small <- Seq("shredded", "variant"); big <- Seq("plain_json", "jsonc"))
      if (size(small) >= size(big))
        problems += s"events: $small (${size(small)} B) not smaller than $big (${size(big)} B)"
    for ((q, rows) <- ep3Results; expected = Ep3(q))
      if (rows.toSet != Set("plain_json" -> expected, "variant" -> expected,
          "jsonc" -> Json.quote(expected)))
        problems += s"$q: ${rows.mkString(", ")}, expected $expected"
    problems.result()
  }

  def layers(): Map[String, Double] = {
    val m = Map.newBuilder[String, Double]
    for (c <- corpora; name <- c.codecs) {
      val codec: JsonCodec = Codecs(name)
      val key = s"codecs.${c.name}.$name"
      val encode = Main.median((1 to 3).map(_ =>
        timed(force(codec.encode(IO.readNdjson(spark, input(c)))))))
      val load = Main.median((1 to 3).map(_ => timed(force(codec.load(spark, out(c, name))))))
      val files = Main.parquetFiles(out(c, name))
      val conf = spark.sessionState.newHadoopConf()
      val chunks = files.flatMap { f =>
        val reader = ParquetFileReader.open(
          HadoopInputFile.fromPath(new org.apache.hadoop.fs.Path(f.toString), conf))
        try reader.getFooter.getBlocks.asScala.flatMap(_.getColumns.asScala).toVector
        finally reader.close()
      }
      for ((col, cs) <- chunks.groupBy(_.getPath.toDotString).toSeq.sortBy(_._1))
        System.err.println(s"perfbench: footer ${c.name} $name $col chunks=${cs.size} " +
          s"compressed=${cs.map(_.getTotalSize).sum} " +
          s"uncompressed=${cs.map(_.getTotalUncompressedSize).sum} " +
          s"encodings=${cs.flatMap(_.getEncodings.asScala).map(_.toString).distinct.sorted.mkString("/")}")
      m ++= Seq(
        s"$key.encode_s" -> encode, s"$key.load_s" -> load,
        s"$key.stored_bytes" -> files.map(Files.size).sum.toDouble,
        s"parquet.${c.name}.$name.uncompressed_bytes" ->
          chunks.map(_.getTotalUncompressedSize).sum.toDouble,
        s"parquet.${c.name}.$name.dict_chunks" -> chunks.count(_.hasDictionaryPage).toDouble)
    }
    m.result()
  }
}

object JsonCodecs {
  /** Sized to the run-time budget (README, "Sizes"); the two corpora are
    * about the same bytes (≈ 105 B per events doc, ≈ 1.7 kB per nested). */
  val EventsDocs = 30000
  val NestedDocs = 2000
  val InputFiles = 4

  /** The reference's four asserted EP3 lookups (benches/query.rs) and the
    * value each must return; jsonc returns it as a quoted token. */
  val Ep3: Map[String, String] = Map(
    "c09_ep3_canada_type" -> "FeatureCollection",
    "c10_ep3_citm_area" -> "1er balcon central",
    "c11_ep3_citm_topic" -> "Formations musicales",
    "c12_ep3_twitter_max_id" -> "505874924095815681")

  final case class Corpus(name: String, codecs: Seq[String], path: Seq[String])

  private def plantedValue(v: Json.V, path: Seq[String]): String =
    path.foldLeft(v) {
      case (Json.Obj(f), k) => f.getOrElse(k, Json.Null)
      case _ => Json.Null
    } match {
      case Json.Str(s) => s
      case other => other.toString
    }

  /** (NDJSON line, value at the planted path) per doc. Events follow the
    * reference generator: unique microsecond timestamps, `name` and
    * `event_attributes` drawn from ⌈0.1·n⌉ distinct values, each value
    * used at least once. */
  def eventsCorpus(n: Int, r: SplittableRandom): Array[(String, String)] = {
    val nd = math.ceil(0.1 * n).toInt
    val names = Array.fill(nd)("n" + java.lang.Long.toHexString(r.nextLong()))
    val attrs = Array.fill(nd) {
      val v = r.nextLong(1000000000000L)
      f"${v / 1000000}%d.${v % 1000000}%06d"
    }
    val base = java.time.Instant.parse("2024-07-25T00:00:00Z")
    val fmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'")
      .withZone(java.time.ZoneOffset.UTC)
    Array.tabulate(n) { i =>
      val a = if (i < nd) i else r.nextInt(nd)
      val b = if (i < nd) i else r.nextInt(nd)
      val ts = fmt.format(base.plusNanos(1000L * i))
      (s"""{"name":"${names(a)}","timestamp":"$ts","attributes":{"event_attributes":${attrs(b)}}}""",
        ts)
    }
  }

  private val Words = Array("café", "naïve", "東京", "Zürich", "😀 emoji", "ünïcode",
    "quote\"d", "back\\slash", "tab\there", "señor", "Ελλάδα", "plain", "data", "json")

  /** (NDJSON line, planted `search_metadata.max_id_str`) per doc, three
    * kinds in turn: tweet-like, citm-like and GeoJSON-like. */
  def nestedCorpus(n: Int, r: SplittableRandom): Array[(String, String)] =
    Array.tabulate(n) { i =>
      val sb = new java.lang.StringBuilder
      def q(s: String): Unit = sb.append(Json.quote(s))
      def word(): String = Words(r.nextInt(Words.length)) + r.nextInt(100000)
      def text(k: Int): String = Seq.fill(k)(word()).mkString(" ")
      def float(): String =
        String.format(java.util.Locale.ROOT, "%.15f", Double.box(r.nextDouble() * 360 - 180))
      // distinct numeric-string object keys (a duplicate key is not JSON
      // any codec has to accept)
      def keys(k: Int, from: Int, span: Int): Seq[Int] =
        Iterator.continually(from + r.nextInt(span)).distinct.take(k).toSeq
      val id = 500000000000000000L + r.nextLong(400000000000000000L)
      // unique per doc by construction: the planted path's values pair
      // decoded docs with their sources
      val maxId = 505000000000000000L + i * 1000003L + r.nextInt(1000)
      sb.append(s"""{"id":$id,"id_str":"$id","kind":${i % 3},""")
      i % 3 match {
        case 0 =>
          sb.append("\"text\":"); q(text(8))
          sb.append(",\"escaped\":\"caf\\u00e9 \\ud83d\\ude00 \\\"x\\\" \\/\",")
          sb.append(s""""user":{"id":${id + 1},"id_str":"${id + 1}","name":""")
          q(text(2))
          sb.append(s""","profile":{"location":{"place":{"geo":{"type":"Point",""" +
            s""""coordinates":[${float()},${float()}]},"country":null,""" +
            s""""bbox":[${float()},${float()},${float()},${float()}]}}},""" +
            s""""followers_count":${r.nextInt(1000000)}},""")
          sb.append("\"entities\":{\"hashtags\":[")
          sb.append((0 until r.nextInt(5)).map { _ =>
            val a = r.nextInt(100)
            s"""{"text":${Json.quote(word())},"indices":[$a,${a + 5}]}"""
          }.mkString(","))
          sb.append("],\"urls\":[],\"media\":null},")
          sb.append(s""""retweeted":${r.nextBoolean()},"favorite_count":${r.nextInt(500)},""")
        case 1 =>
          sb.append("\"areaNames\":{")
          sb.append(keys(6, 100000000, 900000000).map(k =>
            s""""$k":${Json.quote(text(3))}""").mkString(","))
          sb.append("},\"events\":{")
          sb.append(keys(3, 138000000, 1000000).map { e =>
            s""""$e":{"id":$e,"name":${Json.quote(text(3))},""" +
              s""""subTopicIds":[${Seq.fill(4)(r.nextInt(400000000)).mkString(",")}],""" +
              s""""venue":{"hall":{"block":{"rows":[{"seat":${r.nextInt(90)},""" +
              s""""price":${float()}},{"seat":null,"price":-1.5e-3}]}}},""" +
              s""""logo":null,"subjectCode":null}"""
          }.mkString(","))
          sb.append("},")
        case _ =>
          sb.append("\"type\":\"Feature\",\"properties\":{\"name\":"); q(text(2))
          sb.append("},\"geometry\":{\"type\":\"Polygon\",\"coordinates\":[[")
          sb.append(Seq.fill(28)(s"[${float()},${float()}]").mkString(","))
          sb.append("]]},")
      }
      sb.append(s""""search_metadata":{"max_id":$maxId,"max_id_str":"$maxId",""" +
        s""""count":${r.nextInt(100)},"next_results":null,"query":""")
      q(word())
      sb.append("}}")
      (sb.toString, maxId.toString)
    }
}
