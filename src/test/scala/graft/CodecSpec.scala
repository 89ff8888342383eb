package graft
// (parquet footer inspection for the shredding-layout test)

import com.fasterxml.jackson.databind.ObjectMapper
import graft.codecs._
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Round-trip + path-lookup parity tests mirroring the reference's own
  * test surface (SURVEY §5): per-codec 3-doc round trips
  * (plain_json.rs:68-97, jsonb.rs:80-109, jsonc.rs:163-182) and the
  * asserted EP3 lookups on the nativejson corpora (benches/query.rs:46-67).
  */
class CodecSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSpark.session
  import spark.implicits._

  private val mapper = new ObjectMapper()
  /** Semantic JSON equality — the reference compares decoded forms, not
    * bytes (jsonc.rs:178). jsonc is f64-only so ints may gain/lose ".0";
    * normalize all numbers to double before comparing. */
  private def canon(n: com.fasterxml.jackson.databind.JsonNode): Any = {
    import scala.jdk.CollectionConverters._
    if (n.isNumber) n.asDouble()
    else if (n.isObject) n.properties().asScala.map(e => e.getKey -> canon(e.getValue)).toMap
    else if (n.isArray) n.elements().asScala.map(canon).toVector
    else n.toString
  }
  private def jsonEq(a: String, b: String): Boolean =
    canon(mapper.readTree(a)) == canon(mapper.readTree(b))

  // A1 fixture: flat scalars (reference plain_json.rs:74-78 / jsonb.rs:86-90)
  val flatDocs = Seq("""{"a":1,"b":"foo"}""", """{"a":2,"b":"bar"}""", """{"a":3,"b":"baz"}""")
  // A1 fixture: nested + arrays, all floats (reference jsonc.rs:168-172)
  val nestedDocs = Seq(
    """{"a":1.0,"b":[2.0,3.0],"c":{"d":4.0}}""",
    """{"b":[5.5,6.5],"a":7.0,"c":{"d":null}}""",
    """{"c":{"d":true},"a":-8.25,"b":[]}""")

  test("c13 CSV options round-trip quotes, commas and braces byte-exact") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // the exact write/read option pairs c13 uses, stressed harder
    // than the corpus: doubled quotes, separators and JSON braces
    // inside one field (embedded newlines are the DOCUMENTED
    // exclusion — multiLine parsing would cost splittability)
    val evil = Seq(
      (1L, """{"k": 1, "s": "a,b"}"""),
      (2L, """she said ""hi"", twice"""),
      (3L, """,,}{"nested": [1,2,{"x": "y"}]}"""),
      (4L, ""))
    val tmp = java.nio.file.Files.createTempDirectory("c13csv").toString + "/out"
    evil.toDF("id", "props").write.mode("overwrite")
      .option("header", "true").option("quote", "\"").option("escape", "\"")
      .csv(tmp)
    val back = spark.read
      .schema("id BIGINT, props STRING")
      .option("header", "true").option("quote", "\"").option("escape", "\"")
      .option("mode", "FAILFAST")
      .csv(tmp)
      .orderBy("id").collect()
      .map(r => (r.getLong(0), Option(r.getString(1)).getOrElse(""))).toSeq
    assert(back == evil, s"CSV quoting corrupted a field: $back")
  }

  test("plain_json round-trips byte-exact") {
    val raw = flatDocs.toDF("doc")
    val out = PlainJsonCodec.decode(PlainJsonCodec.encode(raw)).as[String].collect()
    assert(out.toSeq == flatDocs)
  }

  test("variant round-trips semantically") {
    val raw = flatDocs.toDF("doc")
    val out = VariantCodec.decode(VariantCodec.encode(raw)).as[String].collect()
    assert(out.length == 3)
    out.zip(flatDocs).foreach { case (got, want) => assert(jsonEq(got, want), s"$got vs $want") }
  }

  test("jsonc round-trips semantically, preserving key order") {
    val raw = nestedDocs.toDF("doc")
    val out = JsoncCodec.decode(JsoncCodec.encode(raw)).as[String].collect()
    out.zip(nestedDocs).foreach { case (got, want) => assert(jsonEq(got, want), s"$got vs $want") }
    // key order fidelity (unlike map-based reprs): second doc starts with "b"
    assert(out(1).startsWith("""{"b":"""))
  }

  test("all codecs flush→load→decode round-trip through zstd parquet") {
    val dir = graft.core.IO.scratchDir("graft-codec")
    for ((name, codec) <- Codecs.all if name != "shredded") {
      val raw = flatDocs.toDF("doc")
      val enc = codec.encode(raw)
      codec.flush(enc, s"$dir/$name")
      val loaded = codec.load(spark, s"$dir/$name")
      val out = codec.decode(loaded).as[String].collect()
      assert(out.length == 3, name)
      out.foreach(o => assert(flatDocs.exists(d => jsonEq(o, d)), s"$name: $o"))
    }
  }

  test("shredded codec projects the events schema; FAILFAST on mismatch") {
    val doc =
      """{"name":"nKG7e","timestamp":"2024-07-25T04:33:11.370048Z","attributes":{"event_attributes":415.32588395798473}}"""
    val enc = Codecs.shredded.encode(Seq(doc).toDF("doc"))
    assert(enc.columns.toSeq == Seq("name", "timestamp", "attributes"))
    val row = enc.collect().head
    assert(row.getString(0) == "nKG7e")
    val got = Codecs.shredded.get(enc, Seq("attributes", "event_attributes"))
      .as[String].collect().head
    assert(got.toDouble == 415.32588395798473)
    // reference panics on unparseable input (variant.rs:95-97) → FAILFAST throws
    intercept[Exception] {
      Codecs.shredded.encode(Seq("""not json at all {""").toDF("doc")).collect()
    }
  }

  // EP3: the reference's asserted query suites (benches/query.rs:46-67)
  private def corpus(name: String): String =
    new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"/root/reference/json/$name")), "UTF-8")

  val suites: Seq[(String, Seq[String], String)] = Seq(
    ("canada.json", Seq("type"), "FeatureCollection"),
    ("citm_catalog.json", Seq("areaNames", "205705994"), "1er balcon central"),
    ("citm_catalog.json", Seq("topicNames", "324846100"), "Formations musicales"),
    ("twitter.json", Seq("search_metadata", "max_id_str"), "505874924095815681"))

  test("EP3 path lookups: plain + variant return the asserted literals") {
    for ((file, path, expected) <- suites) {
      val raw = Seq(corpus(file)).toDF("doc")
      val p = PlainJsonCodec.get(PlainJsonCodec.encode(raw), path).as[String].collect().head
      assert(p == expected, s"plain $file $path")
      val v = VariantCodec.get(VariantCodec.encode(raw), path).as[String].collect().head
      assert(v == expected, s"variant $file $path")
    }
  }

  test("EP3 gate queries c09-c12 return exactly their literal oracle rows") {
    // the driver-gate face of the suites above (JsonOps.ep3Suite):
    // (codec, v) rows with jsonc's quoted-token semantics preserved
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getString(1))).toSeq
    def expect(lit: String) =
      Seq(("jsonc", "\"" + lit + "\""), ("plain_json", lit), ("variant", lit))
    assert(rows(graft.operators.JsonOps.c09CanadaType(spark, "")) ==
      expect("FeatureCollection"))
    assert(rows(graft.operators.JsonOps.c10CitmArea(spark, "")) ==
      expect("1er balcon central"))
    assert(rows(graft.operators.JsonOps.c11CitmTopic(spark, "")) ==
      expect("Formations musicales"))
    assert(rows(graft.operators.JsonOps.c12TwitterMaxId(spark, "")) ==
      expect("505874924095815681"))
  }

  test("EP3 path lookups: jsonc returns quoted tokens (reference query.rs:99)") {
    for ((file, path, expected) <- suites) {
      val raw = Seq(corpus(file)).toDF("doc")
      val got = JsoncCodec.get(JsoncCodec.encode(raw), path).as[String].collect().head
      assert(got == "\"" + expected + "\"", s"jsonc $file $path")
    }
  }

  test("jsonc get: numbers are f64 tokens, misses are null") {
    val raw = Seq("""{"i":87,"f":0.5,"n":null,"t":true,"o":{"x":1},"arr":[1,2]}""").toDF("doc")
    val enc = JsoncCodec.encode(raw)
    def g(p: String*) = JsoncCodec.get(enc, p).as[String].collect().head
    assert(g("i") == "87")     // int-ness lost, whole f64 prints bare
    assert(g("f") == "0.5")
    assert(g("n") == "null")
    assert(g("t") == "true")
    assert(g("o") == """{"x":1}""")
    assert(g("arr") == "[1,2]")
    assert(g("missing") == null)
    assert(g("o", "missing") == null)
  }

  test("jsonc get: numeric path segments index into arrays") {
    val raw = Seq(
      """{"items":[{"q":5},{"q":7}],"deep":[[1,2],[3,4]],"tags":["a","b"],"n":3}"""
    ).toDF("doc")
    val enc = JsoncCodec.encode(raw)
    def g(p: String*) = JsoncCodec.get(enc, p).as[String].collect().head
    assert(g("items", "0", "q") == "5")
    assert(g("items", "1", "q") == "7")
    assert(g("deep", "1", "0") == "3")   // nested array-of-arrays
    assert(g("deep", "0") == "[1,2]")    // container serialization
    assert(g("tags", "1") == "\"b\"")    // strings keep their quotes
    assert(g("items", "2") == null)      // out of bounds
    assert(g("items", "x") == null)      // non-numeric segment on array
    assert(g("n", "0") == null)          // index into a scalar
  }

  test("jsonc get: canada.json-style deep coordinate arrays") {
    // same shape as the reference corpus /root/reference/json/canada.json
    // (FeatureCollection → features[0].geometry.coordinates[i][j][k])
    val doc =
      """{"type":"FeatureCollection","features":[{"type":"Feature","geometry":
        |{"type":"Polygon","coordinates":[[[-65.61,43.42],[-65.62,43.41]]]}}]}"""
        .stripMargin.replace("\n", "")
    val enc = JsoncCodec.encode(Seq(doc).toDF("doc"))
    def g(p: String*) = JsoncCodec.get(enc, p).as[String].collect().head
    assert(g("features", "0", "geometry", "type") == "\"Polygon\"")
    assert(g("features", "0", "geometry", "coordinates", "0", "1", "0") == "-65.62")
    assert(g("features", "0", "geometry", "coordinates", "0", "0", "1") == "43.42")
  }

  test("aux corpora (nulls, arrays, mixed types) round-trip through every codec") {
    // FIXTURES §A4: logs.json has nulls + string arrays; tags.json has a
    // heterogeneous value column; trace.json is flat strings
    for (file <- Seq("logs.json", "tags.json", "tags_with_time.json", "trace.json")) {
      import scala.jdk.CollectionConverters._
      val lines = java.nio.file.Files.readAllLines(
        java.nio.file.Paths.get(s"/root/reference/json/$file")).asScala.take(5).toSeq
      val raw = lines.toDF("doc")
      for ((name, codec) <- Codecs.all if name != "shredded") {
        val out = codec.decode(codec.encode(raw)).as[String].collect()
        assert(out.length == lines.length, s"$name/$file")
        out.zip(lines).foreach { case (got, want) =>
          assert(jsonEq(got, want), s"$name/$file: $got vs $want")
        }
      }
    }
  }

  test("EP2 file flow: generator NDJSON → readNdjson → encode → flush → load → get") {
    // the reference's end-to-end lifecycle on real files (codec.rs:8-19
    // source + flush/load), driven by the generator corpus
    val dir = graft.core.IO.scratchDir("graft-ep2")
    graft.gen.EventsGenerator.writeNdjson(spark, s"$dir/ndjson", 512, 0.3)
    val raw = graft.core.IO.readNdjson(spark, s"$dir/ndjson")
    assert(raw.count() == 512)
    for ((name, codec) <- Codecs.all) {
      codec.flush(codec.encode(raw), s"$dir/$name")
      val loaded = codec.load(spark, s"$dir/$name")
      assert(loaded.count() == 512, s"$name lost rows through parquet")
      val got = codec.get(loaded, Seq("name")).as[String].collect()
      assert(got.length == 512 && got.forall(v => v != null && v.contains("n")), name)
    }
  }

  test("codec registry dispatches by reference names; unknown throws") {
    assert(Codecs("plain_json").name == "plain_json")
    assert(Codecs("jsonc").name == "jsonc")
    assert(Codecs("variant").name == "variant")
    intercept[IllegalArgumentException] { Codecs("nope") }
  }

  test("variant round-trips non-ASCII text through encode, flush, load and decode") {
    // a 2-byte UTF-8 letter and a surrogate-pair emoji: under a
    // non-UTF-8 default charset the variant path garbled both
    val docs = Seq("{\"a\":\"se\u00f1or\"}", "{\"b\":\"\ud83d\ude00 ok\"}")
    val dir = graft.core.IO.scratchDir("graft-variant-utf8")
    VariantCodec.flush(VariantCodec.encode(docs.toDF("doc")), s"$dir/v")
    val back = VariantCodec.decode(VariantCodec.load(spark, s"$dir/v"))
      .as[String].collect().toSeq
    assert(back.sorted == docs.sorted, s"variant round trip changed the text: $back")
  }

  test("variant flushShredded/flushUnshredded produce the claimed parquet layouts") {
    import org.apache.spark.sql.functions._
    val raw = graft.gen.EventsGenerator.generate(spark, 256, 0.5).coalesce(1)
    val enc = graft.codecs.VariantCodec.encode(raw)
    val dir = graft.core.IO.scratchDir("graft-shredlayout")
    graft.codecs.VariantCodec.flushShredded(enc, s"$dir/s")
    graft.codecs.VariantCodec.flushUnshredded(enc, s"$dir/u")
    // inspect the physical parquet schema via the footer, not the Spark
    // reader (which reassembles a VariantType either way)
    def footerSchema(d: String): String = {
      val f = new java.io.File(d).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(f.getAbsolutePath),
        spark.sessionState.newHadoopConf())
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try r.getFileMetaData.getSchema.toString finally r.close()
    }
    assert(footerSchema(s"$dir/s").contains("typed_value"),
      "shredded write must materialize typed columns")
    assert(!footerSchema(s"$dir/u").contains("typed_value"),
      "unshredded write must be the pure binary layout")
    // both layouts round-trip the same values
    def vals(p: String) = spark.read.parquet(p)
      .select(to_json(col("v"))).as[String].collect().sorted.toSeq
    assert(vals(s"$dir/s") == vals(s"$dir/u"))
  }
}
