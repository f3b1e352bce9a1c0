package graft

import com.fasterxml.jackson.core.{JsonEncoding, JsonFactory, JsonParser, JsonToken}
import com.fasterxml.jackson.core.JsonToken._
import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.UTF_8
import org.apache.spark.sql.catalyst.json.JSONOptions
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

/** Reads one match document straight into the row
  * [[MatchPipeline.transform]] loads, in one streaming pass, touching only
  * the leaves the row needs: `metadata.matchId`, the player's position in
  * `metadata.participants`, the `info` scalars and the player's element of
  * `info.participants`. When `info` comes before `metadata` the player's
  * position is not known yet, so every element of `info.participants` is
  * built and the right one picked at the end.
  *
  * The values are those `from_json` gives for the document's schema
  * (FIXTURES.md §2) in its default PERMISSIVE mode, because the walk has
  * the control flow of Spark's `JacksonParser` over the same Jackson
  * parser, the char parser with `JSONOptions.buildJsonFactory`'s features:
  *   - a value of the wrong type nulls its field only (`"kills": "3"`,
  *     `3.5` or `99999999999` for an int), and a string field given any
  *     other value holds that value's compact JSON text;
  *   - an error inside a struct field, syntax errors included, leaves the
  *     field at its earlier value (null, or the last good duplicate), and
  *     the enclosing object goes on with the next token it can read;
  *   - an error that escapes the top-level object, or a top-level value
  *     that is not an object, yields no row;
  *   - field names match case-sensitively, and the last good duplicate wins.
  * Jackson's UTF-8 byte parser would not do: it recovers differently from
  * some syntax errors (it also consumes the character that ends an
  * unrecognized token such as `fals`), so it disagrees with `from_json` on
  * such documents.
  *
  * A document is skipped (no row) when the player is not in
  * `metadata.participants`, and also when the player's position is past
  * the end of `info.participants`, where `element_at` would throw.
  *
  * One reader per partition: it holds the Jackson factory and the player.
  */
private[graft] final class MatchDocReader(puuid: String) {
  import MatchDocReader._

  private val factory: JsonFactory =
    new JSONOptions(Map.empty[String, String], "UTC", "").buildJsonFactory()
  private val player = utf8Equivalent(puuid)
  private val target = player.toCharArray

  /** The document's row, or null when it yields none. */
  def read(doc: String): MatchPipeline.MatchRow =
    if (doc == null) null else read(doc, keepAll = false)

  private def read(doc: String, keepAll: Boolean): MatchPipeline.MatchRow = {
    val p = factory.createParser(doc)
    var meta: Meta = null
    var metaRead = false
    var info: Info = null
    val complete =
      try {
        p.nextToken() == START_OBJECT && {
          while (more(p, END_OBJECT)) p.currentName match {
            case "metadata" => guarded(p) { meta = readMeta(p); metaRead = true }
            case "info" =>
              val want = if (keepAll || !metaRead) All else positionOf(meta)
              guarded(p) { info = readInfo(p, want) }
            case _ => p.skipChildren()
          }
          true
        }
      } catch { case NonFatal(_) => false }
      finally p.close()
    val pos = positionOf(meta)
    if (!complete || pos <= 0) null
    else {
      val players = if (info == null) null else info.players
      if (players == null) row(meta, info, null)
      else if (pos > players.size) null
      else if (players.builtFor == All) row(meta, info, players.all(pos - 1))
      else if (players.builtFor == pos) row(meta, info, players.kept)
      else read(doc, keepAll = true) // a later `metadata` moved the player
    }
  }

  private def row(m: Meta, i: Info, me: Player): MatchPipeline.MatchRow = {
    val c = if (me == null) null else me.champion
    MatchPipeline.MatchRow(
      m.matchId,
      if (i == null) null else i.gameCreation,
      if (i == null) null else i.gameDuration,
      if (i == null) null else i.gameEndTimestamp,
      if (i == null) null else i.gameId,
      if (i == null) null else i.gameMode,
      if (i == null) null else i.gameVersion,
      if (i == null) null else i.mapId,
      if (me == null) null else me.puuid,
      if (me == null) null else me.win,
      if (me == null) null else me.kills,
      if (me == null) null else me.deaths,
      if (me == null) null else me.assists,
      if (c == null) null else c.name,
      if (c == null) null else c.level)
  }

  private def readMeta(p: JsonParser): Meta = value(p) match {
    case null | VALUE_NULL => null
    case START_OBJECT =>
      val m = new Meta
      while (more(p, END_OBJECT)) p.currentName match {
        case "matchId" => guarded(p) { m.matchId = text(p, keep = true) }
        case "participants" => guarded(p) { m.position = readPosition(p) }
        case _ => p.skipChildren()
      }
      m
    case t => mismatch(p, t)
  }

  /** `array_position(metadata.participants, puuid)`: 1-based, 0 when absent. */
  private def readPosition(p: JsonParser): Integer = value(p) match {
    case null | VALUE_NULL => null
    case START_ARRAY =>
      var n = 0
      var found = 0
      while (more(p, END_ARRAY)) {
        n += 1
        if (isPlayer(p) && found == 0) found = n
      }
      found
    case t => mismatch(p, t)
  }

  /** Whether this array element, read as a string, equals the player's
    * puuid as Spark compares strings (UTF-8 bytes).
    */
  private def isPlayer(p: JsonParser): Boolean = value(p) match {
    case null | VALUE_NULL => false
    case VALUE_STRING =>
      val buf = p.getTextCharacters
      val off = p.getTextOffset
      val len = p.getTextLength
      var same = len == target.length
      var i = 0
      while (same && i < len) {
        val ch = buf(off + i)
        if (Character.isSurrogate(ch))
          return utf8Equivalent(new String(buf, off, len)) == player
        same = ch == target(i)
        i += 1
      }
      same
    case _ => utf8Equivalent(copied(p)) == player
  }

  private def readInfo(p: JsonParser, want: Int): Info = value(p) match {
    case null | VALUE_NULL => null
    case START_OBJECT =>
      val i = new Info
      while (more(p, END_OBJECT)) p.currentName match {
        case "gameCreation" => guarded(p) { i.gameCreation = long(p) }
        case "gameDuration" => guarded(p) { i.gameDuration = long(p) }
        case "gameStartTimestamp" => guarded(p) { long(p) }
        case "gameEndTimestamp" => guarded(p) { i.gameEndTimestamp = long(p) }
        case "gameId" => guarded(p) { i.gameId = long(p) }
        case "gameMode" => guarded(p) { i.gameMode = text(p, keep = true) }
        case "gameVersion" => guarded(p) { i.gameVersion = text(p, keep = true) }
        case "mapId" => guarded(p) { i.mapId = int(p) }
        case "participants" => guarded(p) { i.players = readPlayers(p, want) }
        case _ => p.skipChildren()
      }
      i
    case t => mismatch(p, t)
  }

  /** `info.participants`, building element `want` (1-based) only, or
    * every element when `want` is [[All]].
    */
  private def readPlayers(p: JsonParser, want: Int): Players = value(p) match {
    case null | VALUE_NULL => null
    case START_ARRAY =>
      val ps = new Players(want)
      while (more(p, END_ARRAY)) {
        ps.size += 1
        val keep = want == All || want == ps.size
        val e = readPlayer(p, keep)
        if (want == All) ps.all += e else if (keep) ps.kept = e
      }
      ps
    case t => mismatch(p, t)
  }

  /** One participant; with `keep` false the same tokens are read with the
    * same checks, but no value is built (null is returned).
    */
  private def readPlayer(p: JsonParser, keep: Boolean): Player = value(p) match {
    case null | VALUE_NULL => null
    case START_OBJECT =>
      val e = if (keep) new Player else null
      while (more(p, END_OBJECT)) p.currentName match {
        case "puuid" => guarded(p) { val v = text(p, keep); if (keep) e.puuid = v }
        case "win" => guarded(p) { val v = bool(p); if (keep) e.win = v }
        case "kills" => guarded(p) { val v = int(p); if (keep) e.kills = v }
        case "deaths" => guarded(p) { val v = int(p); if (keep) e.deaths = v }
        case "assists" => guarded(p) { val v = int(p); if (keep) e.assists = v }
        case "champion" => guarded(p) { val v = readChampion(p, keep); if (keep) e.champion = v }
        case _ => p.skipChildren()
      }
      e
    case t => mismatch(p, t)
  }

  private def readChampion(p: JsonParser, keep: Boolean): Champion = value(p) match {
    case null | VALUE_NULL => null
    case START_OBJECT =>
      val c = if (keep) new Champion else null
      while (more(p, END_OBJECT)) p.currentName match {
        case "name" => guarded(p) { val v = text(p, keep); if (keep) c.name = v }
        case "level" => guarded(p) { val v = int(p); if (keep) c.level = v }
        case _ => p.skipChildren()
      }
      c
    case t => mismatch(p, t)
  }

  /** A string leaf: the text of a string, or the compact JSON of any other
    * value. With `keep` false a string is read to its end but not built.
    */
  private def text(p: JsonParser, keep: Boolean): String = value(p) match {
    case null | VALUE_NULL => null
    case VALUE_STRING => if (keep) p.getText else { p.getTextLength; null }
    case _ => copied(p)
  }

  private def copied(p: JsonParser): String = {
    val out = new ByteArrayOutputStream()
    val g = factory.createGenerator(out, JsonEncoding.UTF8)
    try g.copyCurrentStructure(p) finally g.close()
    new String(out.toByteArray, UTF_8)
  }
}

private object MatchDocReader {

  /** `readPlayers`' `want` that keeps every element. */
  private val All = -1

  private final class Meta { var matchId: String = _; var position: Integer = _ }
  private final class Info {
    var gameCreation, gameDuration, gameEndTimestamp, gameId: java.lang.Long = _
    var gameMode, gameVersion: String = _
    var mapId: Integer = _
    var players: Players = _
  }
  private final class Players(val builtFor: Int) {
    var size = 0
    var kept: Player = _
    val all = new ArrayBuffer[Player]()
  }
  private final class Player {
    var puuid: String = _
    var win: java.lang.Boolean = _
    var kills, deaths, assists: Integer = _
    var champion: Champion = _
  }
  private final class Champion { var name: String = _; var level: Integer = _ }

  /** A value of the wrong type for its field; Spark's `failedConversion`. */
  private object Mismatch extends RuntimeException(null, null, false, false)

  private def positionOf(m: Meta): Int =
    if (m == null || m.position == null) 0 else m.position.intValue

  /** Spark's `nextUntil`: read a token; false at `end` or end of input. */
  private def more(p: JsonParser, end: JsonToken): Boolean = {
    val t = p.nextToken()
    t != null && t != end
  }

  /** Spark's per-field `try`: a field that fails keeps its earlier value,
    * and what is left of it is skipped.
    */
  private def guarded(p: JsonParser)(read: => Unit): Unit =
    try read catch { case NonFatal(_) => p.skipChildren() }

  /** The value's first token, past its field name (null at end of input). */
  private def value(p: JsonParser): JsonToken = {
    var t = p.currentToken()
    while (t == FIELD_NAME) t = p.nextToken()
    t
  }

  /** Reads a mismatched string to its end, as Spark does to report it. */
  private def mismatch(p: JsonParser, t: JsonToken): Nothing = {
    if (t == VALUE_STRING) p.getTextLength
    throw Mismatch
  }

  private def long(p: JsonParser): java.lang.Long = value(p) match {
    case null | VALUE_NULL => null
    case VALUE_NUMBER_INT => p.getLongValue
    case t => mismatch(p, t)
  }

  private def int(p: JsonParser): Integer = value(p) match {
    case null | VALUE_NULL => null
    case VALUE_NUMBER_INT => p.getIntValue
    case t => mismatch(p, t)
  }

  private def bool(p: JsonParser): java.lang.Boolean = value(p) match {
    case null | VALUE_NULL => null
    case VALUE_TRUE => java.lang.Boolean.TRUE
    case VALUE_FALSE => java.lang.Boolean.FALSE
    case t => mismatch(p, t)
  }

  /** The string as Spark stores it: UTF-8, with lone surrogates as '?'. */
  private def utf8Equivalent(s: String): String =
    if (s.exists(Character.isSurrogate)) new String(s.getBytes(UTF_8), UTF_8) else s
}
