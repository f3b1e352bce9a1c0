package graft

import graft.ops.CoreOps
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** `MatchPipeline.transform` (one streaming pass per document) against the
  * `from_json` transform it replaced, kept here as the oracle: the same
  * rows, schema and nullability on generated documents, on the HTTP
  * fixture's documents, on an edge corpus and on seeded mutations of
  * well-formed documents. The one allowed difference is a document whose
  * player position is past the end of `info.participants`: the oracle's
  * `element_at` throws, and the transform skips the document.
  */
class MatchTransformSpec extends SparkSpec {
  import MatchTransformSpec._
  import spark.implicits._

  private val puuid = "THE_PLAYER_PUUID"

  private def responses(docs: Seq[String]): DataFrame =
    docs.zipWithIndex.map { case (d, i) =>
      MatchPipeline.Response(f"R$i%06d", 200, error = false, d)
    }.toDF()

  /** Response ids of the documents the oracle throws on. */
  private def pastTheEnd(rs: DataFrame, puuid: String): Seq[String] = {
    val doc = from_json(col("payload"), matchSchema)
    val pos = array_position(doc("metadata")("participants"), puuid)
    val players = doc("info")("participants")
    rs.filter(pos > 0 && players.isNotNull && pos > size(players))
      .select("match_id").as[String].collect().toSeq
  }

  private def counts(rows: Array[Row]): Map[Row, Int] =
    rows.groupBy(identity).map { case (r, rs) => r -> rs.length }

  /** Asserts equal rows and schema; returns the number of rows. */
  private def assertSame(docs: Seq[String], puuid: String = puuid): Long = {
    val rs = responses(docs)
    val throwing = pastTheEnd(rs, puuid)
    val want = oracle(rs.filter(!col("match_id").isin(throwing: _*)), puuid)
    val got = MatchPipeline.transform(rs, puuid)
    assert(got.schema == want.schema)
    val (g, w) = (counts(got.collect()), counts(want.collect()))
    if (g != w) {
      val off = (g.keySet ++ w.keySet).filter(r => g.get(r) != w.get(r))
      fail(s"transform != oracle on ${off.size} rows, e.g. " +
        off.take(3).map(r => s"$r: ${g.getOrElse(r, 0)} vs ${w.getOrElse(r, 0)}").mkString("; "))
    }
    if (throwing.nonEmpty)
      assert(MatchPipeline.transform(rs.filter(col("match_id").isin(throwing: _*)), puuid)
        .count() == 0)
    w.values.sum.toLong
  }

  test("20 000 generated documents: the same rows for a present and an absent player") {
    val ids = (0 until 20000).map(i => f"NA1_${400 + i % 20}%03d_$i%07d")
    val fetch = MatchPipeline.fakeFetcher(puuid)
    val docs = ids.map(id => fetch(id)._2)
    assert(assertSame(docs) == 20000)
    assert(assertSame(docs, "SOMEBODY_ELSE") == 0)
  }

  test("the HTTP fixture's documents: the same rows") {
    val player = f"PUUID_${0x5eedL * 7919L}%016x"
    val fetch = MatchPipeline.fakeFetcher(player)
    val docs = for (q <- Seq(420, 440); i <- 0 until 100) yield fetch(f"NA1_$q%03d_$i%07d")._2
    assert(assertSame(docs, player) == 200)
  }

  test("edge corpus: order, nulls, duplicates, case, escapes, wrong types, broken syntax") {
    assert(assertSame(edgeCorpus(puuid)) > 60)
    // a non-string participant matches the player by its compact JSON text
    val odd = s"""{"metadata": {"matchId": "ODD", "participants": ["x", 5, {"a" : [1, true]}]}, ${infoField(parts(2))}}"""
    assert(assertSame(Seq(odd), "5") == 1)
    assert(assertSame(Seq(odd), """{"a":[1,true]}""") == 1)
    // strings compare as Spark stores them: a lone surrogate is '?'
    val lone = s"""{"metadata": {"matchId": "LONE", "participants": ["x", "\\ud800"]}, ${infoField(parts(1))}}"""
    assert(assertSame(Seq(lone), "?") == 1)
  }

  test("seeded mutations of well-formed documents: the same rows") {
    val rng = new scala.util.Random(1107)
    val bases = Seq(
      document("M1", players(puuid, 3), parts(3)),
      document("M2", players(puuid, 0), parts(0), infoFirst = true),
      document("M3", players(puuid, 9), parts(9, extra = """"perks": {"a": [1, {"b": null}]}, """),
        end = false))
    val docs = (0 until 3000).map(i => mutate(bases(i % bases.size), rng))
    assert(assertSame(docs) > 300)
  }

  test("the player past the end of info.participants: the oracle throws, the transform skips") {
    val doc = document("SHORT", players(puuid, 7), Seq(participant("a", 0), participant("b", 1)))
    val rs = responses(Seq(doc, document("OK", players(puuid, 1), parts(1))))
    val e = intercept[Exception](oracle(rs, puuid).collect())
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("INVALID_ARRAY_INDEX")))
    assert(MatchPipeline.transform(rs, puuid).select("match_id").as[String].collect().toSeq ==
      Seq("OK"))
  }
}

object MatchTransformSpec {

  /** The match document schema `from_json` read (FIXTURES.md §2). */
  val matchSchema: StructType = StructType(Seq(
    StructField("metadata", StructType(Seq(
      StructField("matchId", StringType),
      StructField("participants", ArrayType(StringType))))),
    StructField("info", StructType(Seq(
      StructField("gameCreation", LongType),
      StructField("gameDuration", LongType),
      StructField("gameStartTimestamp", LongType),
      StructField("gameEndTimestamp", LongType),
      StructField("gameId", LongType),
      StructField("gameMode", StringType),
      StructField("gameVersion", StringType),
      StructField("mapId", IntegerType),
      StructField("participants", ArrayType(StructType(Seq(
        StructField("puuid", StringType),
        StructField("win", BooleanType),
        StructField("kills", IntegerType),
        StructField("deaths", IntegerType),
        StructField("assists", IntegerType),
        StructField("champion", StructType(Seq(
          StructField("name", StringType),
          StructField("level", IntegerType)))))))))))))

  /** The transform as it was with `from_json`: parse, look the player up,
    * project and flatten.
    */
  def oracle(responses: DataFrame, puuid: String): DataFrame = {
    val parsed = responses
      .withColumn("doc", from_json(col("payload"), matchSchema))
    val pos = array_position(col("doc.metadata.participants"), puuid)
    val me = element_at(col("doc.info.participants"), pos.cast(IntegerType))
    val projected = parsed
      .filter(pos > 0)
      .select(
        col("doc.metadata.matchId").as("match_id"),
        CoreOps.msToDate(col("doc.info.gameCreation")).as("game_date"),
        col("doc.info.gameCreation").as("game_creation"),
        col("doc.info.gameDuration").as("game_duration"),
        when(col("doc.info.gameEndTimestamp").isNotNull, lit("s"))
          .otherwise(lit("ms")).as("game_duration_units"),
        col("doc.info.gameEndTimestamp").as("game_end"),
        col("doc.info.gameId").as("game_id"),
        col("doc.info.gameMode").as("game_mode"),
        col("doc.info.gameVersion").as("game_version"),
        col("doc.info.mapId").as("map_id"),
        me.as("player"))
    CoreOps.flattenStruct(projected)
  }

  def participant(p: String, i: Int, extra: String = ""): String =
    s"""{"puuid": "$p", $extra"win": ${i % 2 == 0}, "kills": $i, "deaths": ${i + 1}, """ +
      s""""assists": ${i + 2}, "champion": {"name": "champ_$i", "level": ${i + 3}}}"""

  /** Ten participant puuids with the player at `at` (0-based). */
  def players(puuid: String, at: Int): Seq[String] =
    (0 until 10).map(i => if (i == at) puuid else s"OTHER_$i")

  def parts(at: Int, extra: String = ""): Seq[String] =
    (0 until 10).map(i => participant(if (i == at) "me" else s"other_$i", i, extra))

  def metaField(id: String, players: Seq[String]): String =
    s""""metadata": {"matchId": "$id", "participants": [${players.map(p => s""""$p"""").mkString(", ")}]}"""

  def infoField(parts: Seq[String], end: Boolean = true, scalars: String = ""): String =
    s""""info": {"gameCreation": 1600000000000, "gameDuration": 1800, $scalars""" +
      s""""gameStartTimestamp": 1600000000000, """ +
      (if (end) """"gameEndTimestamp": 1600001800000, """ else "") +
      s""""gameId": 42, "gameMode": "CLASSIC", "gameVersion": "12.5.1", "mapId": 11, """ +
      s""""participants": [${parts.mkString(", ")}]}"""

  def document(id: String, players: Seq[String], parts: Seq[String],
      infoFirst: Boolean = false, end: Boolean = true): String =
    if (infoFirst) s"{${infoField(parts, end)}, ${metaField(id, players)}}"
    else s"{${metaField(id, players)}, ${infoField(parts, end)}}"

  /** Hand-written documents, one malformation or oddity each. */
  def edgeCorpus(puuid: String): Seq[String] = {
    val at = 4
    val ps = players(puuid, at)
    val base = document("BASE", ps, parts(at))
    def withPart(p: String) = document("P", ps, parts(at).updated(at, p))
    def withInfo(scalars: String) =
      s"{${metaField("I", ps)}, ${infoField(parts(at), scalars = scalars)}}"
    def me(fields: String) = s"""{"puuid": "me", $fields}"""
    val wrongTypes = Seq(
      """"kills": "3"""", """"kills": 3.5""", """"kills": 99999999999""", """"kills": true""",
      """"kills": {"a": 1}""", """"kills": [1, 2]""", """"kills": """"", """"kills": NaN""",
      """"win": 1""", """"win": "true"""", """"puuid": 5""", """"puuid": {"a": [1, true]}""",
      """"puuid": [1, 2.50, "x", null]""", """"puuid": false""", """"champion": 5""",
      """"champion": "x"""", """"champion": []""", """"champion": {"name": 7, "level": "7"}""",
      """"champion": {"name": {"n": "é"}, "level": 1e2}""", """"champion": null""",
      """"kills": 1, "kills": "2"""", """"kills": "1", "kills": 2""",
      """"champion": {"name": "a"}, "champion": {"level": 9}""",
      """"champion": {"name": "a"}, "champion": 5""", """"Kills": 5, "KILLS": 6""")
    val infoScalars = Seq(
      """"gameCreation": "x", """, """"gameCreation": 1.5, """, """"gameCreation": 1e3, """,
      """"gameCreation": 99999999999999999999, """, """"gameCreation": -1, """,
      """"mapId": 3000000000, """, """"gameMode": 5, """, """"gameMode": {"a": [1, true]}, """,
      """"gameMode": [1, 2], """, """"gameMode": true, """, """"gameMode": null, """,
      """"gameMode": "CLÁSSIC 😀", """, "\"gameMode\": \"lone \\ud800 surrogate\", ",
      "\"gameMode\": \"pair \\ud83d\\ude00\", ", "\"gameMode\": \"nul \\u0000 tab \\t\", ",
      "\"gameMode\": \"raw \u0001 control\", ", """"gameEndTimestamp": null, """,
      """"gameEndTimestamp": "soon", """, """"gameDuration": -0, """,
      """"gameVersion": 12.5, """, """"GameMode": "lower", "gamemode": "x", """,
      """"participants": 5, """, """"participants": {}, """)
    val structural = Seq(
      base,
      document("INFO_FIRST", ps, parts(at), infoFirst = true),
      document("NO_END", ps, parts(at), end = false),
      document("NO_PLAYER", players("SOMEONE", at), parts(at)),
      document("TWICE", ps.updated(7, puuid), parts(at)),
      document("FIRST", players(puuid, 0), parts(0)),
      document("LAST", players(puuid, 9), parts(9)),
      document("ESC", ps.updated(at, puuid.take(2) + "\\u" + f"${puuid(2).toInt}%04x" + puuid.drop(3)),
        parts(at)),
      document("ESC_NAME", ps, parts(at)).replace("\"matchId\"", "\"match\\u0049d\""),
      document("NULL_ME", ps, parts(at).updated(at, "null")),
      document("NULL_OTHER", ps, parts(at).updated(1, "null")),
      s"""{"metadata": {"matchId": "NUM", "participants": [5, {"a": 1}, null, "$puuid"]}, ${infoField(parts(3))}}""",
      s"""{"metadata": {"matchId": 12, "participants": ["$puuid"]}, ${infoField(parts(0))}}""",
      s"""{"metadata": {"matchId": "NULL_INFO", "participants": ["$puuid"]}, "info": null}""",
      s"""{"metadata": {"matchId": "NO_INFO", "participants": ["$puuid"]}}""",
      s"""{"metadata": {"matchId": "INFO_5", "participants": ["$puuid"]}, "info": 5}""",
      s"""{"metadata": {"matchId": "INFO_ARR", "participants": ["$puuid"]}, "info": [1]}""",
      s"""{"metadata": {"matchId": "INFO_STR", "participants": ["$puuid"]}, "info": "x"}""",
      s"""{"metadata": {"matchId": "INFO_EMPTY", "participants": ["$puuid"]}, "info": {}}""",
      s"""{"metadata": {"matchId": "PARTS_EMPTY", "participants": ["$puuid"]}, "info": {"participants": []}}""",
      s"""{"metadata": [], ${infoField(parts(0))}}""",
      s"""{"metadata": {"matchId": "P_NULL", "participants": null}, ${infoField(parts(0))}}""",
      s"""{"metadata": {"matchId": "P_STR", "participants": "$puuid"}, ${infoField(parts(0))}}""",
      // duplicate keys: the last good value wins, a failing duplicate keeps the earlier one
      s"{${metaField("DUP_META", players("X", 0))}, ${metaField("DUP_META2", ps)}, ${infoField(parts(at))}}",
      s"{${metaField("DUP_MOVE", ps)}, ${infoField(parts(at))}, ${metaField("DUP_MOVE2", players(puuid, 2))}}",
      s"{${metaField("DUP_LATE", players("X", 0))}, ${infoField(parts(at))}, ${metaField("DUP_LATE2", ps)}}",
      s"""{${metaField("DUP_BAD", ps)}, ${infoField(parts(at))}, "metadata": 5}""",
      s"""{${metaField("DUP_NULL", ps)}, ${infoField(parts(at))}, "metadata": null}""",
      s"{${metaField("DUP_INFO", ps)}, ${infoField(parts(1))}, ${infoField(parts(at), end = false)}}",
      s"""{${metaField("DUP_INFO_BAD", ps)}, ${infoField(parts(at))}, "info": "x"}""",
      s"""{${metaField("DUP_PARTS", ps)}, "info": {"participants": [1], "participants": [${parts(at).mkString(",")}]}}""",
      s"""{"metadata": {"matchId": "A", "matchId": "B", "participants": ["x"], "participants": ["$puuid"]}, ${infoField(parts(0))}}""",
      // field names differ in case only: not the schema's fields
      document("CASE", ps, parts(at)).replace("\"info\"", "\"Info\""),
      document("CASE2", ps, parts(at)).replace("\"metadata\"", "\"METADATA\""),
      document("CASE3", ps, parts(at)).replace("\"kills\"", "\"Kills\""),
      // single quotes and non-numeric numbers are allowed; comments and leading zeros are not
      document("QUOTES", ps, parts(at)).replace("\"gameMode\": \"CLASSIC\"", "'gameMode': 'CL\"ASSIC'"),
      withPart(me(""""kills": 007""")),
      withPart(me(""""kills": /* c */ 7""")),
      withInfo(""""gameCreation": Infinity, """),
      // unknown fields, deep and odd
      withPart(me(""""x": {"y": [{"z": [[[]]]}]}, "kills": 1""")),
      withInfo(""""x": [{"metadata": {"participants": []}}, "info"], """),
      // top level: not an object, empty, trailing content
      "", "   ", "null", "5", "\"doc\"", "[]", s"[$base]", "true", s"$base xyz", s"$base}",
      s"$base{", s"$base,[", s"$base$base", "{}", "{\"metadata\": {}}")
    // broken syntax at many places: each splice breaks one spot of the base document
    val cuts = (1 until base.length by 23).map(base.take)
    val splices = Seq("@", "}", "]", ",", ":", "\"", "{", "[", "x", "1 2", "\\u12")
      .flatMap(s => Seq(61, 150, 240, 331, 437, 530, 640, 790).map(i =>
        base.take(i) + s + base.drop(i)))
    structural ++ wrongTypes.map(f => withPart(me(f))) ++ infoScalars.map(withInfo) ++
      cuts ++ splices ++ Seq(null)
  }

  /** One random edit of `doc`: a cut, an inserted token, a deleted span or
    * a swapped value.
    */
  def mutate(doc: String, rng: scala.util.Random): String = {
    val i = rng.nextInt(doc.length)
    val pieces = Seq("@", "{", "}", "[", "]", ",", ":", "\"", "null", "5", "true", "\"s\"",
      "{\"a\": 1}", "[1, 2]", "1.5", "-", "\\", "é", " ")
    rng.nextInt(4) match {
      case 0 => doc.take(i)
      case 1 => doc.take(i) + pieces(rng.nextInt(pieces.size)) + doc.drop(i)
      case 2 => doc.take(i) + doc.drop(i + 1 + rng.nextInt(8))
      case _ =>
        val values = """(?<=: )("[^"]*"|-?\d+|true|false|null)""".r.findAllMatchIn(doc).toSeq
        val m = values(rng.nextInt(values.size))
        doc.take(m.start) + pieces(rng.nextInt(pieces.size)) + doc.drop(m.end)
    }
  }
}
