package graft.parser

import java.util.Locale

import scala.collection.mutable.ArrayBuffer

import graft.types.BqlType

/** ClickHouse-dialect statement surface — SURVEY.md §2.1.
  *
  * Mirrors the reference's command grammar (crates/lang/src/bql.pest:8-23)
  * as a hand-rolled tokenizer + recursive-descent parser. Commands (DDL,
  * INSERT, management) are parsed fully; SELECT/EXPLAIN pass through as raw
  * SQL — exactly the reference's split, where its own parser only shallowly
  * scans queries and DataFusion re-parses them
  * (crates/engine/src/datafusions.rs:180-187). Here the "second parser" is
  * Spark SQL itself.
  */
sealed trait ChStatement

object ChStatement {
  final case class ColDef(name: String, tpe: BqlType, primaryKey: Boolean,
                          notNull: Boolean, default: Option[String])
  final case class CreateDatabase(name: String, ifNotExists: Boolean) extends ChStatement
  final case class CreateTable(db: Option[String], name: String,
                               cols: Seq[ColDef], engine: Option[String],
                               partitionBy: Option[String],
                               settings: Map[String, String],
                               ifNotExists: Boolean,
                               createScript: String,
                               asSelect: Option[String] = None,
                               engineArgs: Seq[String] = Nil,
                               checks: Seq[(String, String)] = Nil,
                               temporary: Boolean = false,
                               projections: Seq[(String, String)] = Nil,
                               // raw `INDEX name expr TYPE kind(...)`
                               // bodies — bloom_filter ones wire to real
                               // parquet bloom filters at write time
                               indexes: Seq[String] = Nil)
      extends ChStatement
  final case class DropDatabase(name: String, ifExists: Boolean) extends ChStatement
  final case class DropTable(db: Option[String], name: String, ifExists: Boolean) extends ChStatement
  final case class TruncateTable(db: Option[String], name: String,
                                 ifExists: Boolean = false) extends ChStatement
  /** `SHOW DICTIONARIES` — the dictionary registry. */
  case object ShowDictionaries extends ChStatement
  case object ShowDatabases extends ChStatement
  final case class ShowTables(db: Option[String],
                              like: Option[String] = None,
                              notLike: Boolean = false) extends ChStatement
  /** `SHOW PROCESSLIST` — the running-statement registry. */
  case object ShowProcesslist extends ChStatement
  /** `KILL QUERY WHERE query_id = '…'` — cancel that statement's Spark
    * job group (active and future jobs, including a mid-stream SELECT).
    */
  final case class KillQuery(qid: String) extends ChStatement
  final case class ShowCreateTable(db: Option[String], name: String) extends ChStatement
  final case class DescTable(db: Option[String], name: String) extends ChStatement
  /** `DESC (SELECT ...)` — the query's result schema as name/type rows. */
  final case class DescSelect(selectSql: String) extends ChStatement
  final case class UseDb(name: String) extends ChStatement
  final case class OptimizeTable(db: Option[String], name: String,
                                 fin: Boolean = false,
                                 partition: Option[String] = None,
                                 dedup: Boolean = false,
                                 // DEDUPLICATE BY col[, col...] — judge
                                 // duplicates on these columns only
                                 dedupBy: Option[Seq[String]] = None)
      extends ChStatement
  /** One VALUES literal: None = NULL, Some(text) = raw literal text. */
  final case class InsertValues(db: Option[String], name: String,
                                cols: Option[Seq[String]],
                                rows: Seq[Seq[Option[String]]]) extends ChStatement
  final case class InsertSelect(db: Option[String], name: String,
                                cols: Option[Seq[String]],
                                selectSql: String) extends ChStatement
  /** INSERT INTO t FORMAT CSV — payload is the inline remainder (the wire
    * protocol streams it; a library caller passes it inline or via the
    * payload argument of GraftSession.sql).
    */
  final case class InsertFormat(db: Option[String], name: String,
                                cols: Option[Seq[String]], format: String,
                                inlinePayload: String) extends ChStatement
  /** EXPLAIN [AST|SYNTAX|PLAN|PIPELINE] sel — CH's explain kinds mapped
    * onto this engine's layers: AST = the parsed statement kind, SYNTAX =
    * the fully-rewritten SQL (what the dialect layer hands Spark —
    * ClickHouse's SYNTAX shows its rewritten query too), PLAN (default) =
    * the formatted Catalyst plan, PIPELINE = the physical plan with
    * codegen stage ids (whole-stage codegen spans ≙ CH's processor
    * pipeline).
    */
  final case class Explain(selectSql: String,
                           kind: String = "plan") extends ChStatement
  /** Raw SELECT/WITH passthrough for Spark SQL. */
  final case class Select(sql: String) extends ChStatement
  /** INSERT INTO FUNCTION file('rel/path', 'Format') SELECT … — CH's
    * file-export table function (the write side of `file()`).
    */
  final case class InsertFile(path: String, format: String,
                              selectSql: String) extends ChStatement
  /** INSERT INTO FUNCTION remote('url', 'table' [, 'user', 'pwd']) …
    * (reference: crates/runtime/src/mgmt.rs:744-770; addr is a JDBC url
    * here — the Spark-native federation transport).
    */
  final case class InsertRemote(url: String, table: String,
                                auth: Option[(String, String)],
                                values: Option[Seq[Seq[Option[String]]]],
                                selectSql: Option[String]) extends ChStatement
  /** EXISTS [TABLE] t — 1/0 like ClickHouse. */
  final case class ExistsTable(db: Option[String], name: String) extends ChStatement
  /** SHOW COLUMNS FROM t — name/type rows, DESC's sibling. */
  final case class ShowColumns(db: Option[String], name: String) extends ChStatement
  /** RENAME TABLE a TO b[, c TO d] (ClickHouse's multi-rename form). */
  final case class RenameTable(
      renames: Seq[((Option[String], String), (Option[String], String))])
      extends ChStatement
  /** ALTER TABLE t ADD COLUMN [IF NOT EXISTS] col type [DEFAULT lit]. */
  final case class AlterAddColumn(db: Option[String], name: String,
                                  col: ColDef, ifNotExists: Boolean)
      extends ChStatement
  /** A ClickHouse mutation: `ALTER TABLE t UPDATE c = e, … WHERE cond`
    * (sets non-empty) or `ALTER TABLE t DELETE WHERE cond` / the
    * lightweight `DELETE FROM t WHERE cond` (sets empty). The
    * assignment RHSs and the condition ride as raw SQL slices —
    * evaluated by the engine against the table's pre-mutation rows.
    */
  final case class AlterMutate(db: Option[String], name: String,
                               sets: Seq[(String, String)], where: String,
                               partition: Option[String] = None)
      extends ChStatement
  /** `ALTER TABLE t DROP COLUMN [IF EXISTS] c` — metadata-now (catalog
    * schema loses the field; scans never read the stale bytes), physical
    * at the next OPTIMIZE, which is CH's merge-time drop model.
    */
  final case class AlterDropColumn(db: Option[String], name: String,
                                   col: String, ifExists: Boolean)
      extends ChStatement
  /** `ALTER TABLE t RENAME COLUMN a TO b`. */
  final case class AlterRenameColumn(db: Option[String], name: String,
                                     from: String, to: String)
      extends ChStatement
  /** `ALTER TABLE t MODIFY COLUMN c Type`. */
  final case class AlterModifyColumn(db: Option[String], name: String,
                                     col: String, tpe: BqlType)
      extends ChStatement
  /** `ALTER TABLE t CLEAR COLUMN c IN PARTITION v` — partition-scoped
    * reset of a column to its declared DEFAULT (else type-zero, else
    * NULL); runs through the mutation machinery so only that
    * partition's files rewrite.
    */
  final case class AlterClearColumn(db: Option[String], name: String,
                                    col: String, partition: String)
      extends ChStatement
  /** `ALTER TABLE t MODIFY TTL expr` / `ALTER TABLE t REMOVE TTL`
    * (ttl = None). Row expiry applies at the next OPTIMIZE (merge time,
    * CH's model).
    */
  final case class AlterTtl(db: Option[String], name: String,
                            ttl: Option[String]) extends ChStatement
  /** Partition-level DDL: `ALTER TABLE t DROP|DETACH|ATTACH PARTITION v`.
    * `value` is the partition-key VALUE (the partition expression's
    * result), matching CH's partition-id addressing.
    */
  final case class AlterPartition(db: Option[String], name: String,
                                  op: String, value: String)
      extends ChStatement

  /** ALTER TABLE t ADD INDEX n col TYPE kind… / DROP INDEX n /
    * MATERIALIZE INDEX n — the skipping-index DDL family (bloom_filter
    * indexes are physical parquet blooms; MATERIALIZE rewrites existing
    * files so old data carries them).
    */
  final case class AlterIndex(db: Option[String], name: String, op: String,
                              indexName: String,
                              body: Option[String] = None,
                              ifExists: Boolean = false) extends ChStatement
  /** Projection DDL: `ALTER TABLE t ADD PROJECTION [IF NOT EXISTS] p
    * (SELECT … GROUP BY …)` / `DROP PROJECTION [IF EXISTS] p` /
    * `MATERIALIZE PROJECTION p` (full rebuild). `op` is
    * add|drop|materialize; `selectSql` carries the parenthesized body for
    * `add`.
    */
  final case class AlterProjection(db: Option[String], name: String,
                                   op: String, projName: String,
                                   selectSql: Option[String],
                                   ifNotExists: Boolean = false,
                                   ifExists: Boolean = false)
      extends ChStatement

  /** `ALTER TABLE t ADD CONSTRAINT [IF NOT EXISTS] n CHECK expr` /
    * `ALTER TABLE t DROP CONSTRAINT [IF EXISTS] n` — CH's constraint
    * DDL (its ADD applies to FUTURE inserts only; existing rows are not
    * re-validated).
    */
  final case class AlterConstraint(db: Option[String], name: String,
                                   op: String, cname: String,
                                   expr: Option[String] = None,
                                   ifNotExists: Boolean = false,
                                   ifExists: Boolean = false)
      extends ChStatement

  /** CREATE MATERIALIZED VIEW — ClickHouse's insert-triggered
    * transformation: every block inserted into the SELECT's source table
    * runs through the SELECT and appends to the view's own storage.
    * POPULATE backfills from the existing source data at create time
    * (CH's default is NO backfill).
    */
  final case class CreateMaterializedView(db: Option[String], name: String,
                                          engine: Option[String],
                                          partitionBy: Option[String],
                                          populate: Boolean,
                                          selectSql: String,
                                          ifNotExists: Boolean,
                                          createScript: String,
                                          // CH's `TO [db.]target` form: the
                                          // view writes into an EXISTING
                                          // table (no own storage) — the
                                          // AggregateFunction/-State MV
                                          // pattern
                                          to: Option[(Option[String], String)] = None)
      extends ChStatement

  /** Plain `CREATE [OR REPLACE] VIEW v AS SELECT …` — ClickHouse's
    * non-materialized view: the query is STORED, not its result; every
    * read substitutes the stored SELECT as a subquery
    * (ClickHouse docs, sql-reference/statements/create/view — "Normal
    * views do not store any data. They just perform a read from another
    * table on each access").
    */
  final case class CreateView(db: Option[String], name: String,
                              selectSql: String, orReplace: Boolean,
                              ifNotExists: Boolean,
                              createScript: String) extends ChStatement

  /** `DROP VIEW [IF EXISTS] v` — distinct from DropTable so the engine
    * can enforce CH's kind check (DROP VIEW on a base table errors).
    */
  final case class DropView(db: Option[String], name: String,
                            ifExists: Boolean) extends ChStatement

  /** `DETACH TABLE t` — the catalog forgets the table but its data and
    * replay script survive on disk (script renamed aside so boot restore
    * does not resurrect it); `ATTACH TABLE t` reverses it.
    */
  final case class DetachTable(db: Option[String], name: String)
      extends ChStatement
  final case class AttachTable(db: Option[String], name: String)
      extends ChStatement
  /** `EXCHANGE TABLES a AND b` — swap the two names (CH's blue/green
    * reload primitive), composed from three renames.
    */
  final case class ExchangeTables(dbA: Option[String], a: String,
                                  dbB: Option[String], b: String)
      extends ChStatement

  /** `CREATE DICTIONARY d (k UInt64, v String DEFAULT '…', …)
    * PRIMARY KEY k SOURCE(CLICKHOUSE(TABLE 't')) [LAYOUT(…)]
    * [LIFETIME(…)]` — an in-memory hash over a dimension table, served
    * to queries through dictGet/dictHas/dictGetOrDefault. LAYOUT and
    * LIFETIME are accepted and ignored (every layout is a broadcast
    * hash here; reload is explicit via SYSTEM RELOAD DICTIONARY).
    */
  final case class CreateDictionary(db: Option[String], name: String,
                                    cols: Seq[ColDef], key: String,
                                    source: String, ifNotExists: Boolean,
                                    createScript: String) extends ChStatement
  final case class DropDictionary(db: Option[String], name: String,
                                  ifExists: Boolean) extends ChStatement
  /** `SYSTEM RELOAD DICTIONARIES` — refresh every registered dictionary. */
  case object ReloadDictionaries extends ChStatement
  final case class ReloadDictionary(db: Option[String], name: String)
      extends ChStatement
}

object ChParser {
  import ChStatement._

  // ---- tokenizer -----------------------------------------------------
  sealed trait Tok { def pos: Int; def text: String }
  private final case class Ident(text: String, pos: Int) extends Tok
  private final case class StrLit(text: String, pos: Int) extends Tok // unquoted value
  private final case class NumLit(text: String, pos: Int) extends Tok
  private final case class Punct(text: String, pos: Int) extends Tok

  def tokenize(sql: String): Either[String, Vector[Tok]] = {
    val out = Vector.newBuilder[Tok]
    var i = 0
    val n = sql.length
    while (i < n) {
      val c = sql.charAt(i)
      if (c.isWhitespace) i += 1
      else if (c == '-' && i + 1 < n && sql.charAt(i + 1) == '-') {
        while (i < n && sql.charAt(i) != '\n') i += 1
      } else if (c == '/' && i + 1 < n && sql.charAt(i + 1) == '*') {
        val end = sql.indexOf("*/", i + 2)
        if (end < 0) return Left(s"unterminated block comment at $i")
        i = end + 2
      } else if (c == '\'') {
        val sb = new StringBuilder
        var j = i + 1
        var closed = false
        while (j < n && !closed) {
          val ch = sql.charAt(j)
          if (ch == '\\' && j + 1 < n) {
            // ClickHouse escape semantics (the reference codec decodes
            // these on insert): recognized escapes become their control
            // character; any other \x is x verbatim.
            sb.append(sql.charAt(j + 1) match {
              case 'n' => '\n'
              case 't' => '\t'
              case 'r' => '\r'
              case '0' => '\u0000'
              case 'b' => '\b'
              case 'f' => '\f'
              case other => other
            })
            j += 2
          }
          else if (ch == '\'' && j + 1 < n && sql.charAt(j + 1) == '\'') { sb.append('\''); j += 2 }
          else if (ch == '\'') { closed = true; j += 1 }
          else { sb.append(ch); j += 1 }
        }
        if (!closed) return Left(s"unterminated string literal at $i")
        out += StrLit(sb.toString, i)
        i = j
      } else if (c == '`') {
        val end = sql.indexOf('`', i + 1)
        if (end < 0) return Left(s"unterminated quoted identifier at $i")
        out += Ident(sql.substring(i + 1, end), i)
        i = end + 1
      } else if (c.isDigit || (c == '.' && i + 1 < n && sql.charAt(i + 1).isDigit)) {
        var j = i
        while (j < n && (sql.charAt(j).isLetterOrDigit || sql.charAt(j) == '.' ||
          ((sql.charAt(j) == '+' || sql.charAt(j) == '-') && j > i &&
            (sql.charAt(j - 1) == 'e' || sql.charAt(j - 1) == 'E')))) j += 1
        out += NumLit(sql.substring(i, j), i)
        i = j
      } else if (c.isLetter || c == '_') {
        var j = i
        while (j < n && (sql.charAt(j).isLetterOrDigit || sql.charAt(j) == '_')) j += 1
        out += Ident(sql.substring(i, j), i)
        i = j
      } else {
        out += Punct(c.toString, i)
        i += 1
      }
    }
    Right(out.result())
  }

  /** One token scan of a SQL text, shared by every text scanner below:
    * the tokens, each token's parenthesis depth, whether a set operation
    * sits at the top level, and the token predicates the scanners test.
    * Every predicate is safe for any index, negative or past the end.
    *
    * Depth convention: a token's depth is the number of parentheses open
    * around it, and a `(` or `)` carries the depth OUTSIDE itself — in
    * `f(x)`, `f`, `(` and `)` are at depth 0 and `x` at depth 1 — so a
    * clause keyword is top-level exactly when its depth is 0. A stray `)`
    * clamps at 0 instead of going negative. Text that does not tokenize
    * scans as no tokens (`error` says why): every scanner then leaves it
    * alone, and Spark reports the error.
    */
  final case class Scan(sql: String) {
    private val lexed = tokenize(sql)
    def error: Option[String] = lexed.left.toOption
    val toks: Vector[Tok] = lexed.getOrElse(Vector.empty)
    def length: Int = toks.length
    def indices: Range = toks.indices
    def apply(i: Int): Tok = toks(i)
    def lift(i: Int): Option[Tok] = toks.lift(i)

    private var op = false
    /** Each token's depth; computed on first use, as most scanners never
      * ask.
      */
    lazy val depth: Array[Int] = {
      val a = new Array[Int](length)
      var d = 0
      for (i <- indices) toks(i) match {
        case Punct("(", _) => a(i) = d; d += 1
        case Punct(")", _) => d = math.max(0, d - 1); a(i) = d
        case _ =>
          a(i) = d
          op ||= d == 0 &&
            (kw(i, "union") || kw(i, "intersect") || kw(i, "except"))
      }
      a
    }
    /** A UNION/INTERSECT/EXCEPT at depth 0: the scope of a clause of the
      * statement would be ambiguous.
      */
    def setOp: Boolean = { depth; op }

    /** The identifier at i, unless it is one of the lower-case words in
      * `except`.
      */
    def ident(i: Int, except: Set[String] = Set.empty): Option[String] =
      lift(i) match {
        case Some(Ident(w, _))
            if except.isEmpty || !except(w.toLowerCase(Locale.ROOT)) => Some(w)
        case _ => None
      }
    def kw(i: Int, w: String): Boolean = i >= 0 && i < length && (toks(i) match {
      case Ident(t, _) => t.equalsIgnoreCase(w)
      case _ => false
    })
    /** Whether token i is one of the lower-case keywords `ws`. */
    def kwIn(i: Int, ws: Set[String]): Boolean =
      ident(i).exists(w => ws(w.toLowerCase(Locale.ROOT)))
    /** `kw` at depth 0. */
    def top(i: Int, w: String): Boolean = kw(i, w) && depth(i) == 0
    /** Where a clause ends: a depth-0 keyword from `ws`, or a `;`. */
    def stop(i: Int, ws: Set[String]): Boolean =
      i >= 0 && i < length && depth(i) == 0 && (punct(i, ";") || kwIn(i, ws))
    /** Whether token i is a backquoted identifier. */
    def quoted(i: Int): Boolean = ident(i).isDefined && sql.charAt(pos(i)) == '`'
    /** The numeric literal at i, as written. */
    def num(i: Int): Option[String] = lift(i).collect { case NumLit(t, _) => t }
    /** The integer literal at i. */
    def int(i: Int): Option[Long] = num(i).flatMap(_.toLongOption)
    /** A signed integer literal at i: (value, tokens it spans). */
    def signedNum(i: Int): Option[(Long, Int)] =
      if (punct(i, "-")) int(i + 1).map(v => (-v, 2)) else int(i).map((_, 1))
    def str(i: Int): Option[String] = lift(i).collect { case StrLit(t, _) => t }
    def punct(i: Int, p: String): Boolean = i >= 0 && i < length && (toks(i) match {
      case Punct(t, _) => t == p
      case _ => false
    })
    /** The start of token i, or the text length past the end. */
    def pos(i: Int): Int = if (i >= 0 && i < length) toks(i).pos else sql.length
    /** The text from token a up to token b, trimmed. */
    def slice(a: Int, b: Int): String = sql.substring(pos(a), pos(b)).trim
    /** The first index from `from` on whose token satisfies `p`, or
      * `length` when none does.
      */
    def seek(from: Int)(p: Int => Boolean): Int = {
      var i = math.max(from, 0)
      while (i < length && !p(i)) i += 1
      math.min(i, length)
    }
    /** The matching `)` for the `(` at i. */
    def close(i: Int): Option[Int] =
      if (!punct(i, "(")) None
      else Some(seek(i + 1)(j => depth(j) == depth(i) && punct(j, ")")))
        .filter(_ < length)
  }

  /** Apply non-overlapping (from, to, replacement) text edits. */
  private[graft] def splice(sql: String, edits: Seq[(Int, Int, String)]): String =
    edits.sortBy(-_._1).foldLeft(sql) { case (acc, (from, to, text)) =>
      acc.substring(0, from) + text + acc.substring(to)
    }

  // ---- parser --------------------------------------------------------
  private final class P(s: Scan) {
    val sql: String = s.sql
    var i = 0
    def peek: Option[Tok] = s.lift(i)
    def peekAt(off: Int): Option[Tok] = s.lift(i + off)
    def next(): Tok = { val t = s(i); i += 1; t }
    def done: Boolean = i >= s.length || isPunct(";") // trailing ';'
    /** Lookahead: is the token `off` positions AFTER the current one the
      * given keyword? (isKwAt(0) == isKw.)
      */
    def isKwAt(off: Int, kw: String): Boolean = s.kw(i + off, kw)
    def isKw(kw: String): Boolean = s.kw(i, kw)
    def isPunct(p: String): Boolean = s.punct(i, p)
    def eatKw(kw: String): Boolean = if (isKw(kw)) { i += 1; true } else false
    def expectKw(kw: String): Either[String, Unit] =
      if (eatKw(kw)) Right(()) else Left(s"expected $kw at ${posText}")
    def eatPunct(p: String): Boolean = if (isPunct(p)) { i += 1; true } else false
    def expectPunct(p: String): Either[String, Unit] =
      if (eatPunct(p)) Right(()) else Left(s"expected '$p' at ${posText}")
    def ident(): Either[String, String] = peek match {
      case Some(Ident(t, _)) => i += 1; Right(t)
      case other => Left(s"expected identifier, got ${other.map(_.text)}")
    }
    /** A string literal; `what` names the construct in the error. */
    def string(what: String): Either[String, String] = peek match {
      case Some(StrLit(t, _)) => i += 1; Right(t)
      case other => Left(s"$what: expected string literal, got ${other.map(_.text)}")
    }
    def posText: String = peek.map(t => s"'${t.text}' (pos ${t.pos})").getOrElse("<end>")
    /** Raw SQL from the current token to the end (for passthrough tails). */
    def rest: String = sql.substring(s.pos(i))
    /** Raw SQL between current token and (exclusive) a stop condition. */
    def sliceUntil(stop: P => Boolean): String = {
      val from = i
      while (peek.isDefined && !stop(this)) i += 1
      s.slice(from, i)
    }
    /** Skip a balanced `( … )` group when one starts here. */
    def skipGroup(): Unit = if (eatPunct("(")) {
      var depth = 1
      while (depth > 0 && peek.isDefined) {
        next() match {
          case Punct("(", _) => depth += 1
          case Punct(")", _) => depth -= 1
          case _ => ()
        }
      }
    }
    /** Like [[sliceUntil]], but the stop only fires OUTSIDE parentheses —
      * a comma inside `greatest(a, b)` doesn't end an UPDATE assignment.
      */
    def sliceBalancedUntil(stop: P => Boolean): String = {
      val from = s.pos(i)
      var depth = 0
      var go = true
      while (go && peek.isDefined) {
        if (depth == 0 && stop(this)) go = false
        else {
          peek.get match {
            case Punct("(", _) => depth += 1
            case Punct(")", _) => depth -= 1
            case _ => ()
          }
          i += 1
        }
      }
      sql.substring(from, s.pos(i)).trim
    }
  }

  /** A partition VALUE after `DROP|DETACH|ATTACH PARTITION` — a string
    * literal, a (possibly negative) number, or a bare word; stored as the
    * unquoted text the partition expression evaluates to.
    */
  private def partitionValue(p: P): Either[String, String] = {
    val neg = p.eatPunct("-")
    p.peek match {
      case Some(StrLit(s, _)) if !neg => p.next(); Right(s)
      case Some(NumLit(s, _)) => p.next(); Right((if (neg) "-" else "") + s)
      case Some(Ident(s, _)) if !neg => p.next(); Right(s)
      case other => Left(
        s"PARTITION: expected a partition value, got ${other.map(_.text)}")
    }
  }

  /** Optional `IN PARTITION v` between a mutation's body and its WHERE —
    * scopes the mutation's file-locating scan to one partition.
    */
  private def inPartitionOpt(p: P): Either[String, Option[String]] =
    if (p.isKw("in") && p.isKwAt(1, "partition")) {
      p.next(); p.next()
      partitionValue(p).map(Some(_))
    } else Right(None)

  /** A mutation's WHERE condition: everything to the statement end
    * (exclusive of a trailing `;`), required non-empty — a mutation
    * without a predicate is always a mistake (CH requires one too).
    */
  private def mutationWhere(p: P, what: String): Either[String, String] = {
    val w = p.sliceUntil(_.isPunct(";"))
    if (w.nonEmpty) Right(w)
    else Left(s"$what: expected a condition after WHERE at ${p.posText}")
  }

  /** IF NOT EXISTS / IF EXISTS. */
  private def parseIfNotExists(p: P): Boolean =
    if (p.isKw("if")) { p.next(); p.eatKw("not"); p.eatKw("exists"); true } else false

  private def qualifiedName(p: P): Either[String, (Option[String], String)] =
    p.ident().flatMap { a =>
      if (p.eatPunct(".")) p.ident().map(b => (Some(a), b)) else Right((None, a))
    }

  /** Capture a CH type name: identifier plus a balanced parenthesized
    * argument list if present (Decimal(9, 2), DateTime('UTC'), nested
    * Nullable(...) etc. — reconstructed textually for BqlType.parse).
    */
  private def typeName(p: P): Either[String, BqlType] = p.ident().flatMap { head =>
    val sb = new StringBuilder(head)
    if (p.isPunct("(")) {
      var depth = 0
      var go = true
      while (go && p.peek.isDefined) {
        val t = p.next()
        t match {
          case Punct("(", _) => depth += 1; sb.append('(')
          case Punct(")", _) => depth -= 1; sb.append(')'); if (depth == 0) go = false
          case Punct(",", _) => sb.append(", ")
          case StrLit(s, _) =>
            sb.append('\'').append(s.replace("'", "''")).append('\'')
          case other =>
            // two adjacent word tokens (a named Tuple field: `a Int64`)
            // need their separating space back
            if (sb.nonEmpty && sb.last.isLetterOrDigit &&
                other.text.nonEmpty && other.text.head.isLetterOrDigit)
              sb.append(' ')
            sb.append(other.text)
        }
      }
      if (depth != 0) return Left(s"unbalanced type arguments after $head")
    }
    BqlType.parse(sb.toString)
  }

  /** An identifier, possibly dotted (`n.a`): Nested members are spelled
    * with the flattened dotted name in column lists, ALTERs and INSERTs.
    */
  private def dottedIdent(p: P): Either[String, String] =
    p.ident().map { first =>
      var full = first
      while (p.isPunct(".")) {
        p.next()
        p.ident() match {
          case Right(part) => full = s"$full.$part"
          case Left(_) => ()
        }
      }
      full
    }

  private def columnDef(p: P): Either[String, ColDef] =
    for {
      name <- dottedIdent(p)
      tpe <- typeName(p)
    } yield {
      var pk = false; var nn = false; var dflt: Option[String] = None
      var go = true
      while (go) {
        if (p.isKw("primary")) { p.next(); p.eatKw("key"); p.eatKw("asc"); p.eatKw("desc"); pk = true }
        else if (p.isKw("not")) { p.next(); p.eatKw("null"); nn = true }
        else if (p.isKw("default")) {
          p.next()
          dflt = p.peek.map {
            case StrLit(s, _) => s"'$s'"
            case t => t.text
          }
          p.next()
        } else if (p.isKw("codec")) {
          // CODEC(ZSTD(3)) etc. — a storage hint; parquet's own encoding
          // applies here, so the clause is accepted and dropped
          p.next()
          p.skipGroup()
        } else if (p.isKw("comment")) {
          p.next()
          p.peek match { case Some(StrLit(_, _)) => p.next(): Unit; case _ => () }
        } else go = false
      }
      ColDef(name, tpe, pk, nn, dflt)
    }

  private def parseCreateTable(p: P): Either[String, CreateTable] = {
    val ine = parseIfNotExists(p)
    for {
      dbTab <- qualifiedName(p)
      // CTAS has no column list — the schema derives from the SELECT.
      // The list may interleave `CONSTRAINT name CHECK expr` entries with
      // column defs (the reference's own TPC-H smoke DDL writes them,
      // crates/tests_integ/tpch/01095_tpch_like_smoke.sql:21-22, though
      // its grammar never parses them) — captured for INSERT-time
      // enforcement, ClickHouse's CHECK semantics.
      colsChecks <- if (!p.isPunct("("))
        Right((Seq.empty[ColDef], Seq.empty[(String, String)],
          Seq.empty[(String, String)], Seq.empty[String]))
      else {
        p.next()
        val buf = ArrayBuffer.empty[ColDef]
        val chk = ArrayBuffer.empty[(String, String)]
        val prj = ArrayBuffer.empty[(String, String)]
        val idx = ArrayBuffer.empty[String]
        var err: Option[String] = None
        var go = true
        while (go && err.isEmpty) {
          if (p.isKw("constraint")) {
            p.next()
            p.ident() match {
              case Right(cn) =>
                if (!p.eatKw("check"))
                  err = Some(s"CONSTRAINT $cn: expected CHECK at ${p.posText}")
                else {
                  val ce = p.sliceBalancedUntil(q =>
                    q.isPunct(",") || q.isPunct(")"))
                  if (ce.isEmpty)
                    err = Some(s"CONSTRAINT $cn: empty CHECK expression")
                  else { chk += cn -> ce; if (!p.eatPunct(",")) go = false }
                }
              case Left(e) => err = Some(e)
            }
          } else if (p.isKw("projection")) {
            // `PROJECTION name (SELECT … GROUP BY …)` declared inline —
            // CH's canonical form; desugars onto the ALTER ADD machinery
            // after the table exists.
            p.next()
            p.ident() match {
              case Right(pn) =>
                if (!p.eatPunct("("))
                  err = Some(s"PROJECTION $pn: expected ( at ${p.posText}")
                else {
                  val body = p.sliceBalancedUntil(_.isPunct(")"))
                  p.eatPunct(")")
                  if (body.isEmpty) err = Some(s"PROJECTION $pn: empty body")
                  else { prj += pn -> body; if (!p.eatPunct(",")) go = false }
                }
              case Left(e) => err = Some(e)
            }
          } else if (p.isKw("index")) {
            // `INDEX name expr TYPE kind(args) [GRANULARITY n]` — CH's
            // data-skipping indexes. minmax/set add no information here
            // (parquet footer min/max statistics + dictionaries are the
            // native analogs Spark's scan already consults), but a
            // `TYPE bloom_filter` on a plain column wires to a REAL
            // parquet bloom filter at write time (createTableInner), so
            // the body is captured, not dropped.
            p.next()
            val body = p.sliceBalancedUntil(q =>
              q.isPunct(",") || q.isPunct(")"))
            if (body.isEmpty) err = Some(s"INDEX: empty body at ${p.posText}")
            else { idx += body; if (!p.eatPunct(",")) go = false }
          } else columnDef(p) match {
            case Right(cd) =>
              buf += cd
              if (p.eatPunct(",")) () else { go = false }
            case Left(e) => err = Some(e)
          }
        }
        err.toLeft((buf.toSeq, chk.toSeq, prj.toSeq, idx.toSeq)).flatMap(cs =>
          p.expectPunct(")").map(_ => cs))
      }
      cols = colsChecks._1
      tail <- {
        // ENGINE = Name[(arg, ...)] — MergeTree-family parameters (e.g.
        // ReplacingMergeTree's version column) ride as raw arg tokens
        val (engine, engineArgs) = if (p.eatKw("engine")) {
          p.eatPunct("=")
          val name = p.ident().toOption
          val args = if (p.eatPunct("(")) {
            val buf = ArrayBuffer.empty[String]
            while (!p.isPunct(")") && p.peek.isDefined) {
              if (p.isPunct(",")) { p.next(): Unit } else buf += p.next().text
            }
            p.eatPunct(")")
            buf.toSeq
          } else Nil
          (name, args)
        } else (Option.empty[String], Seq.empty[String])
        // MergeTree tail clauses in any order (CH's canonical order is
        // PARTITION BY / PRIMARY KEY / ORDER BY / SAMPLE BY / TTL /
        // SETTINGS). ORDER BY is CH's SORTING KEY — it maps onto the
        // same per-column PRIMARY KEY marks the column syntax sets (the
        // merge engines key on it); a table-level PRIMARY KEY clause
        // (CH: an index prefix of the sorting key) takes precedence as
        // the key set when both appear. SAMPLE BY / TTL desugar into the
        // settings map — they ride the existing graft.setting.* prop
        // recording/replay, so both survive restarts and RENAME
        // normalization; SHOW CREATE renders the normalized
        // `SETTINGS sample_by=…/ttl='…'` form, which replays.
        def clauseStop(q: P): Boolean =
          q.isKw("settings") || q.isKw("as") || q.isKw("sample") ||
            q.isKw("ttl") || q.isKw("order") || q.isKw("primary") ||
            q.isPunct(";")
        def keyList(what: String): Either[String, Seq[String]] = {
          val raw = p.sliceUntil(clauseStop).trim
          if (raw.equalsIgnoreCase("tuple()")) Right(Nil)
          else {
            val inner = if (raw.startsWith("(") && raw.endsWith(")"))
              raw.substring(1, raw.length - 1) else raw
            val keys = inner.split(",").map(_.trim).filter(_.nonEmpty).toSeq
            if (keys.nonEmpty && keys.forall(_.matches("[A-Za-z_][A-Za-z0-9_]*")))
              Right(keys)
            else Left(s"$what: only bare column names (or tuple()) are " +
              s"supported as the sorting key, got `$raw`")
          }
        }
        var partBy: Option[String] = None
        var orderKeys: Option[Seq[String]] = None
        var pkKeys: Option[Seq[String]] = None
        var sampleBy: Option[String] = None
        var ttl: Option[String] = None
        var err: Option[String] = None
        var more = true
        while (more && err.isEmpty) {
          if (p.isKw("partition")) {
            p.next(); p.eatKw("by")
            partBy = Some(p.sliceUntil(clauseStop))
          } else if (p.isKw("order")) {
            p.next(); p.eatKw("by")
            keyList("ORDER BY") match {
              case Right(ks) => orderKeys = Some(ks)
              case Left(e) => err = Some(e)
            }
          } else if (p.isKw("primary")) {
            p.next(); p.eatKw("key")
            keyList("PRIMARY KEY") match {
              case Right(ks) => pkKeys = Some(ks)
              case Left(e) => err = Some(e)
            }
          } else if (p.isKw("sample")) {
            p.next(); p.eatKw("by")
            val key = p.sliceUntil(clauseStop).trim
            if (key.matches("[A-Za-z_][A-Za-z0-9_]*")) sampleBy = Some(key)
            else err = Some("SAMPLE BY: only a bare column name is " +
              s"supported as the sampling key, got `$key`")
          } else if (p.isKw("ttl")) {
            p.next()
            ttl = Some(p.sliceUntil(q =>
              q.isKw("settings") || q.isKw("as") || q.isPunct(";")).trim)
              .filter(_.nonEmpty)
          } else more = false
        }
        err.toLeft(()).flatMap { _ =>
          val sortKeys = pkKeys.orElse(orderKeys)
          sortKeys.flatMap(_.find(k => !cols.exists(_.name == k))) match {
            case Some(k) =>
              Left(s"ORDER BY/PRIMARY KEY: $k is not a declared column")
            case None =>
              parseSettings(p).map(settings => (engine, partBy,
                settings ++ sampleBy.map("sample_by" -> _) ++
                  ttl.map("ttl" -> _), engineArgs, sortKeys))
          }
        }
      }
      asSel <- if (p.eatKw("as")) {
        val rest = p.sliceUntil(_.isPunct(";")).trim
        if (rest.isEmpty) Left(s"CREATE TABLE ... AS: expected a SELECT at ${p.posText}")
        else Right(Some(rest))
      } else Right(None)
      _ <- if (cols.isEmpty && asSel.isEmpty)
        Left("CREATE TABLE: expected a column list or AS SELECT")
      else Right(())
    } yield {
      // a table-level sorting key marks its columns exactly as the
      // per-column PRIMARY KEY syntax would
      val keyed = tail._5 match {
        case Some(ks) if ks.nonEmpty =>
          cols.map(c => if (ks.contains(c.name)) c.copy(primaryKey = true)
                        else c)
        case _ => cols
      }
      CreateTable(dbTab._1, dbTab._2, keyed, tail._1, tail._2, tail._3,
        ine, p.sql.trim, asSel, tail._4, colsChecks._2,
        projections = colsChecks._3, indexes = colsChecks._4)
    }
  }

  /** CREATE MATERIALIZED VIEW [IF NOT EXISTS] name [ENGINE=e]
    * [PARTITION BY expr] [POPULATE] AS SELECT … — schema derives from the
    * SELECT, like CTAS.
    */
  private def parseCreateMv(p: P): Either[String, CreateMaterializedView] = {
    val ine = parseIfNotExists(p)
    for {
      dbTab <- qualifiedName(p)
      toTarget <- (if (p.eatKw("to")) qualifiedName(p).map(Some(_))
                   else Right(None)): Either[String, Option[(Option[String], String)]]
      engine <- Right(if (p.eatKw("engine")) {
        p.eatPunct("="); p.ident().toOption
      } else None)
      _ <- if (toTarget.isDefined && engine.isDefined)
        Left("CREATE MATERIALIZED VIEW: TO and ENGINE are mutually " +
          "exclusive (the TO target owns the storage)")
      else Right(())
      partBy <- Right(if (p.isKw("partition")) {
        p.next(); p.eatKw("by")
        Some(p.sliceUntil(q =>
          q.isKw("populate") || q.isKw("as") || q.isPunct(";")))
      } else None)
      populate <- Right(p.eatKw("populate"))
      _ <- p.expectKw("as")
      sel <- {
        val rest = p.sliceUntil(_.isPunct(";")).trim
        if (rest.isEmpty) Left(s"CREATE MATERIALIZED VIEW: expected a SELECT at ${p.posText}")
        else Right(rest)
      }
    } yield CreateMaterializedView(dbTab._1, dbTab._2, engine, partBy,
      populate, sel, ine, p.sql.trim, toTarget)
  }

  /** CREATE DICTIONARY name (cols…) PRIMARY KEY k
    * SOURCE(CLICKHOUSE(TABLE 't')) [LAYOUT(…)] [LIFETIME(…)].
    * LAYOUT/LIFETIME bodies are skipped with balanced parens.
    */
  private def parseCreateDictionary(
      p: P): Either[String, CreateDictionary] = {
    val ine = parseIfNotExists(p)
    for {
      dbTab <- qualifiedName(p)
      _ <- p.expectPunct("(")
      cols <- {
        val buf = ArrayBuffer.empty[ColDef]
        var err: Option[String] = None
        var go = true
        while (go && err.isEmpty) {
          columnDef(p) match {
            case Right(cd) => buf += cd; go = p.eatPunct(",")
            case Left(e) => err = Some(e)
          }
        }
        err.toLeft(buf.toSeq).flatMap(cs => p.expectPunct(")").map(_ => cs))
      }
      _ <- p.expectKw("primary")
      _ <- p.expectKw("key")
      key <- p.ident()
      _ <- if (cols.exists(_.name == key)) Right(())
           else Left(s"CREATE DICTIONARY: PRIMARY KEY $key is not a declared column")
      _ <- p.expectKw("source")
      src <- {
        if (!p.eatPunct("(")) Left(s"SOURCE: expected '(' at ${p.posText}")
        else for {
          _ <- p.ident() // CLICKHOUSE / any named source kind
          _ <- p.expectPunct("(")
          _ <- p.expectKw("table")
          t <- p.peek match {
            case Some(StrLit(s, _)) => p.next(); Right(s)
            case other => Left(
              s"SOURCE: expected TABLE '<name>', got ${other.map(_.text)}")
          }
          _ <- p.expectPunct(")")
          _ <- p.expectPunct(")")
        } yield t
      }
    } yield {
      while (p.isKw("layout") || p.isKw("lifetime")) {
        p.next(); p.skipGroup()
      }
      CreateDictionary(dbTab._1, dbTab._2, cols, key, src, ine, p.sql.trim)
    }
  }

  /** CREATE [OR REPLACE] VIEW [IF NOT EXISTS] [db.]name AS SELECT …
    * (CH rejects combining OR REPLACE with IF NOT EXISTS — so do we).
    */
  private def parseCreateView(p: P,
                              orReplace: Boolean): Either[String, CreateView] = {
    val ine = parseIfNotExists(p)
    if (orReplace && ine)
      Left("CREATE VIEW: OR REPLACE and IF NOT EXISTS cannot be combined")
    else for {
      dbTab <- qualifiedName(p)
      _ <- p.expectKw("as")
      sel <- {
        val rest = p.sliceUntil(_.isPunct(";")).trim
        if (rest.isEmpty)
          Left(s"CREATE VIEW: expected a SELECT at ${p.posText}")
        else {
          val head = rest.split("\\s|\\(", 2)(0).toLowerCase(java.util.Locale.ROOT)
          if (head != "select" && head != "with")
            Left(s"CREATE VIEW: expected SELECT or WITH after AS, got '$head'")
          else Right(rest)
        }
      }
    } yield CreateView(dbTab._1, dbTab._2, sel, orReplace, ine, p.sql.trim)
  }

  /** The span of the FIRST top-level `FROM <table>` reference in a SELECT
    * — (qualified name text, start offset, end offset) — used by the
    * materialized-view engine to substitute the inserted block for the
    * source table. None when the FROM target is a subquery or absent.
    */
  def firstFromTable(sql: String): Option[(String, Int, Int)] = {
    val s = Scan(sql)
    val fi = s.seek(0)(s.top(_, "FROM"))
    s.ident(fi + 1).map { t1 =>
      // qualified form db.table
      val (text, last) = s.ident(fi + 3) match {
        case Some(t2) if s.punct(fi + 2, ".") => (s"$t1.$t2", fi + 3)
        case _ => (t1, fi + 1)
      }
      (text, s.pos(fi + 1), s.pos(last + 1))
    }
  }

  /** Rewrite `SELECT DISTINCT ON (c1, c2) …` to the equivalent
    * `… LIMIT 1 BY c1, c2` form (same contract: first row per key group
    * in the statement's ORDER BY), inserted before a top-level outer
    * LIMIT when one exists — the LIMIT BY rewriter then does the window
    * work. None when the clause is absent.
    */
  def rewriteDistinctOn(sql: String): Option[String] = {
    val s = Scan(sql)
    if (!(s.kw(0, "SELECT") && s.kw(1, "DISTINCT") && s.kw(2, "ON"))) None
    // span of the parenthesized key list
    else s.close(3).flatMap { end =>
      val keys = sql.substring(s.pos(3) + 1, s.pos(end)).trim
      val body = "SELECT " + sql.substring(s.pos(end + 1))
      // insert before a depth-0 outer LIMIT (or at the end)
      val b = Scan(body)
      val li = b.seek(0)(b.top(_, "limit"))
      Option.when(keys.nonEmpty)(
        if (li < b.length)
          body.substring(0, b.pos(li)) + s"LIMIT 1 BY $keys " + body.substring(b.pos(li))
        else body.replaceAll(";\\s*$", "") + s" LIMIT 1 BY $keys")
    }
  }

  /** Spans of ClickHouse's table-set membership form `[GLOBAL] [NOT] IN
    * <table>` (a bare identifier, not a parenthesized list/subquery):
    * (tableName, identStart, identEnd). GLOBAL is a distribution hint
    * with no local meaning and is included in the span so the rewrite
    * drops it.
    */
  def inTableRefs(sql: String): Seq[(String, Int, Int)] = {
    val s = Scan(sql)
    s.indices.flatMap { i =>
      s.ident(i + 1, inTableReserved).filter(_ => s.kw(i, "in") &&
          !s.punct(i + 2, "(") && !s.punct(i + 2, "."))
        .map(t => (t, s.pos(if (s.kw(i - 1, "global")) i - 1 else i), s.pos(i + 2)))
    }
  }

  private val inTableReserved = Set("select", "where", "group", "order",
    "limit", "having", "settings", "window", "join", "on", "and", "or", "not",
    "union", "intersect", "except", "by", "from", "as", "inner", "left",
    "right", "full", "cross", "using", "asc", "desc", "with")

  /** The pieces of a `… PREWHERE p [WHERE w] …` statement. `pre` is the
    * text before PREWHERE, `pw` the PREWHERE expression, `whereExpr` the
    * WHERE expression when one follows, `tail` everything after.
    */
  final case class PrewhereParts(pre: String, pw: String,
                                 whereExpr: Option[String], tail: String)

  /** Find a TOP-LEVEL ClickHouse PREWHERE clause (depth-0,
    * string-aware). None when absent or for set operations.
    */
  def splitPrewhere(sql: String): Option[PrewhereParts] = {
    val s = Scan(sql)
    val stops = Set("where", "group", "order", "limit", "having",
      "settings", "window")
    val i = s.seek(0)(s.top(_, "prewhere"))
    val pwEnd = s.seek(i + 1)(s.stop(_, stops))
    val pw = s.slice(i + 1, pwEnd)
    if (i == s.length || s.setOp || pw.isEmpty) None
    else {
      val hasWhere = s.kw(pwEnd, "where")
      val end = if (hasWhere) s.seek(pwEnd + 1)(s.stop(_, stops - "where"))
                else pwEnd
      Some(PrewhereParts(sql.substring(0, s.pos(i)), pw,
        Option.when(hasWhere)(s.slice(pwEnd + 1, end)),
        sql.substring(s.pos(end))))
    }
  }

  /** Whether `name` appears as an IDENTIFIER token in `sql` — unlike a
    * regex over the raw text, string literals and comments never match
    * (ADVICE r17: `merge()`'s `_table` detection false-positived on the
    * token inside a string literal).
    */
  def hasIdent(sql: String, name: String): Boolean = {
    val s = Scan(sql)
    if (s.error.isDefined) sql.contains(name) // unparseable: conservative
    else s.indices.exists(s.kw(_, name))
  }

  /** Backquote every `a.b` identifier pair whose joined name is in
    * `names` — the flattened members of `Nested(...)` columns, which CH
    * SQL references as plain `n.a` but Spark would resolve as a struct
    * field / table-qualified column instead of the literal column "n.a".
    * Token-driven: string literals and comments never match; an already-
    * backticked ident (raw char at pos is '`') is left alone; chains
    * `x.a.b` (db.table.col) are excluded by requiring no adjacent dots.
    */
  def backquoteDotted(sql: String, names: Set[String]): String = {
    val s = Scan(sql)
    splice(sql, s.indices.flatMap { i =>
      (s.ident(i), s.ident(i + 2)) match {
        case (Some(a), Some(b))
            if s.punct(i + 1, ".") && !s.quoted(i) && !s.quoted(i + 2) &&
              names.contains(s"$a.$b") &&
              !s.punct(i - 1, ".") && !s.punct(i + 3, ".") &&
              // `.` must be ADJACENT on both sides: `tuple.field`
              // spaced as `t . f` is never a nested ref, and a NumLit
              // never starts an ident so `1.5` can't reach here
              s.pos(i) + a.length == s.pos(i + 1) &&
              s.pos(i + 1) + 1 == s.pos(i + 2) =>
          Some((s.pos(i), s.pos(i + 2) + b.length, s"`$a.$b`"))
        case _ => None
      }
    })
  }

  /** One `expr [AS alias]` item of an ARRAY JOIN clause. `bare` marks a
    * plain un-aliased column reference, which ClickHouse REPLACES in
    * scope with its element value (`ARRAY JOIN arr` makes `arr` mean the
    * element downstream).
    */
  final case class ArrayJoinItem(expr: String, alias: String, bare: Boolean)

  /** The pieces of a `SELECT s FROM src [LEFT] ARRAY JOIN items tail`
    * statement: `prefix` is any text before the top-level SELECT (WITH
    * chains), `sel` the select list, `src` the FROM source text, `tail`
    * everything after the last item (WHERE/GROUP/ORDER/…).
    */
  final case class ArrayJoinParts(prefix: String, sel: String, src: String,
                                  left: Boolean, items: Seq[ArrayJoinItem],
                                  tail: String)

  /** Find a TOP-LEVEL ClickHouse `[LEFT] ARRAY JOIN` clause (depth-0,
    * string-aware). None when absent, for set operations, or when an
    * item is a non-trivial expression without an AS alias (nothing to
    * name the element by — ClickHouse would accept it but only the item
    * expression text itself could reference it).
    */
  def splitArrayJoin(sql: String): Option[ArrayJoinParts] = {
    val s = Scan(sql)
    val i = s.seek(0)(j => s.top(j, "array") && s.top(j + 1, "join"))
    val left = s.top(i - 1, "left")
    val clauseStart = if (left) i - 1 else i
    val seli = s.seek(0)(s.top(_, "select"))
    val fromi = s.seek(0)(j => j < clauseStart && s.top(j, "from"))
    if (i == s.length || s.setOp || fromi == s.length || seli >= fromi) None
    else {
      val stops = Set("where", "prewhere", "group", "order", "limit",
        "having", "settings", "window")
      val end = s.seek(i + 2)(s.stop(_, stops))
      // split items on depth-0 commas within [i+2, end)
      val cuts = ((i + 2) until end).filter(j => s.depth(j) == 0 && s.punct(j, ","))
      val items = ((i + 2) +: cuts.map(_ + 1)).zip(cuts :+ end).map { case (a, b) =>
        ((a until b).find(s.top(_, "as")), s.ident(a)) match {
          // the alias must be the item's FINAL token: `expr AS a x`
          // (e.g. a trailing JOIN clause CH grammar allows here)
          // must fall through unrewritten rather than silently
          // dropping the trailing tokens
          case (Some(k), _) if k + 2 == b =>
            s.ident(k + 1).map(ArrayJoinItem(s.slice(a, k), _, bare = false))
              .filter(_.expr.nonEmpty)
          case (None, Some(c)) if b - a == 1 =>
            Some(ArrayJoinItem(c, c, bare = true))
          case _ => None
        }
      }
      if (items.exists(_.isEmpty)) None
      else Some(ArrayJoinParts(sql.substring(0, s.pos(seli)),
        s.slice(seli + 1, fromi), s.slice(fromi + 1, clauseStart),
        left, items.flatten, sql.substring(s.pos(end))))
    }
  }

  /** A `FROM [db.]table SAMPLE <num> [OFFSET <num>]` occurrence: the
    * table it samples, the span [from, to) covering the whole clause
    * (for splicing), the fraction literal and the optional offset
    * literal. Top-level single SELECT only (same scope rule as
    * PREWHERE).
    */
  final case class SampleParts(db: Option[String], table: String,
                               from: Int, to: Int, num: String,
                               offset: Option[String] = None)

  def splitSample(sql: String): Option[SampleParts] = {
    val s = Scan(sql)
    val i = s.seek(0)(j => s.top(j, "sample") && s.num(j + 1).isDefined)
    if (i == s.length || s.setOp) None
    else {
      // optional `OFFSET <num>` after the fraction
      val off = s.num(i + 3).filter(_ => s.top(i + 2, "offset"))
      val end = s.pos(if (off.isDefined) i + 4 else i + 2)
      // the table ref immediately precedes SAMPLE: ident or db.ident
      (s.ident(i - 3), s.ident(i - 1)) match {
        case (Some(db), Some(t)) if s.punct(i - 2, ".") =>
          Some(SampleParts(Some(db), t, s.pos(i - 3), end, s(i + 1).text, off))
        case (_, Some(t)) if !t.equalsIgnoreCase("from") =>
          Some(SampleParts(None, t, s.pos(i - 1), end, s(i + 1).text, off))
        case _ => None
      }
    }
  }

  /** A `FROM [db.]table FINAL` occurrence: the table it reads and the
    * span [from, to) covering `<table ref> FINAL` (for splicing). Same
    * scope rules as SAMPLE (top-level single SELECT only). `FINAL
    * SAMPLE` combos are refused — neither splitter fires, so the raw
    * FINAL token reaches Spark and errors loudly instead of composing
    * two rewrites with undefined ordering semantics.
    */
  final case class FinalParts(db: Option[String], table: String,
                              from: Int, to: Int)

  def splitFinal(sql: String): Option[FinalParts] = {
    val s = Scan(sql)
    // the table ref immediately precedes FINAL and itself follows FROM —
    // `SELECT final FROM t` or a bare alias elsewhere can never match
    // (v1 scope: the FROM table only, not JOIN sides)
    val fi = s.seek(0)(i => s.top(i, "final") && s.kw(i - 2, "from") &&
      s.ident(i - 1).exists(!_.equalsIgnoreCase("from")))
    // separately allow the qualified `FROM db.t FINAL` shape
    val fiQ = s.seek(0)(i => s.top(i, "final") && s.kw(i - 4, "from") &&
      s.ident(i - 3).isDefined && s.punct(i - 2, ".") && s.ident(i - 1).isDefined)
    val i = if (fi < s.length) fi else fiQ
    // refuse FINAL SAMPLE: undefined composition, error loudly
    if (i == s.length || s.setOp || s.kw(i + 1, "sample")) None
    else if (i == fiQ)
      Some(FinalParts(s.ident(i - 3), s.ident(i - 1).get, s.pos(i - 3), s.pos(i + 1)))
    else Some(FinalParts(None, s.ident(i - 1).get, s.pos(i - 1), s.pos(i + 1)))
  }

  /** All spans of `db.name` qualified references (for names in the given
    * set) — string/comment-aware, any nesting depth. Used to splice the
    * engine's `system.*` introspection views into SELECT text.
    */
  def qualifiedRefs(sql: String, db: String,
                    names: Set[String]): Seq[(String, Int, Int)] = {
    val s = Scan(sql)
    s.indices.flatMap { i =>
      s.ident(i + 2).map(_.toLowerCase(Locale.ROOT)).filter(n =>
        s.kw(i, db) && s.punct(i + 1, ".") && names.contains(n))
        .map(n => (n, s.pos(i), s.pos(i + 3)))
    }
  }

  /** SETTINGS k=v [, k=v ...] — values admit a leading sign
    * (signed_number in the reference grammar, bql.pest); a dangling
    * `k=` is a parse error, not an IndexOutOfBounds.
    */
  private def parseSettings(p: P): Either[String, Map[String, String]] = {
    var settings = Map.empty[String, String]
    if (p.eatKw("settings")) {
      var go = true
      while (go) {
        val one = for {
          k <- p.ident()
          _ <- p.expectPunct("=")
          v <- {
            val sign = if (p.eatPunct("-")) "-" else { p.eatPunct("+"); "" }
            p.peek match {
              case Some(t) => p.next(); Right(sign + t.text)
              case None => Left(s"SETTINGS $k=: expected a value, got <end>")
            }
          }
        } yield settings += (k -> v)
        one match {
          case Left(e) => return Left(e)
          case Right(_) => go = p.eatPunct(",")
        }
      }
    }
    Right(settings)
  }

  /** remote('url', 'table' [, 'user', 'pwd']) argument list. */
  private def parseRemoteArgs(p: P): Either[String, (String, String, Option[(String, String)])] = {
    if (!p.eatPunct("(")) return Left(s"remote: expected '(' at ${p.posText}")
    for {
      url <- p.string("remote")
      _ <- p.expectPunct(",")
      tab <- p.string("remote")
      auth <- if (p.eatPunct(",")) for {
        u <- p.string("remote"); _ <- p.expectPunct(","); w <- p.string("remote")
      } yield Some((u, w))
      else Right(None)
      _ <- p.expectPunct(")")
    } yield (url, tab, auth)
  }

  private def parseInsert(p: P): Either[String, ChStatement] =
    if (p.isKw("into") && p.isKwAt(1, "function")) {
      p.next(); p.next() // INTO FUNCTION
      if (p.isKw("file")) {
        p.next()
        for {
          _ <- p.expectPunct("(")
          path <- p.string("file")
          _ <- p.expectPunct(",")
          fmt <- p.string("file")
          _ <- p.expectPunct(")")
          stmt <- {
            if (p.isKw("select") || p.isKw("with"))
              Right(InsertFile(path, fmt, p.rest))
            else Left("INSERT INTO FUNCTION file: expected SELECT at " +
              p.posText)
          }
        } yield stmt
      } else for {
        _ <- p.expectKw("remote")
        args <- parseRemoteArgs(p)
        stmt <- {
          if (p.eatKw("values"))
            parseValuesRows(p).map(rows =>
              InsertRemote(args._1, args._2, args._3, Some(rows), None))
          else if (p.isKw("select") || p.isKw("with"))
            Right(InsertRemote(args._1, args._2, args._3, None, Some(p.rest)))
          else Left(s"INSERT INTO FUNCTION remote: expected VALUES or SELECT at ${p.posText}")
        }
      } yield stmt
    } else for {
      _ <- p.expectKw("into")
      dbTab <- qualifiedName(p)
      stmt <- {
        // optional (col, col, ...) list — only if followed by VALUES/SELECT/FORMAT
        val cols: Option[Seq[String]] =
          if (p.isPunct("(")) {
            p.next()
            val names = ArrayBuffer.empty[String]
            var go = true
            while (go) {
              p.ident() match {
                case Right(nm) =>
                  // Nested members are inserted as `n.a` (CH spells the
                  // flattened column with a dot in INSERT lists)
                  var full = nm
                  while (p.isPunct(".")) {
                    p.next()
                    p.ident() match {
                      case Right(part) => full = s"$full.$part"
                      case Left(_) => ()
                    }
                  }
                  names += full; go = p.eatPunct(",")
                case Left(_) => go = false
              }
            }
            p.eatPunct(")")
            Some(names.toSeq)
          } else None
        if (p.eatKw("values")) parseValuesRows(p).map(rows =>
          InsertValues(dbTab._1, dbTab._2, cols, rows))
        else if (p.isKw("select") || p.isKw("with"))
          Right(InsertSelect(dbTab._1, dbTab._2, cols, p.rest))
        else if (p.eatKw("format")) {
          // FORMAT VALUES is VALUES-clause sugar in the reference grammar
          // (bql.pest:86-91: `^"format" ~ ^"values" | ^"format" ~ format_name`)
          // — unless the rows arrive OUT OF BAND (HTTP body / wire
          // payload), in which case it parses as a format insert
          if (p.eatKw("values")) {
            if (p.done) Right(InsertFormat(dbTab._1, dbTab._2, cols,
              "VALUES", ""))
            else parseValuesRows(p).map(rows =>
              InsertValues(dbTab._1, dbTab._2, cols, rows))
          }
          else p.ident().map { fmt =>
            // remainder of the raw text = inline payload (wire-streamed in
            // the reference, crates/runtime/src/mgmt.rs:724-730)
            InsertFormat(dbTab._1, dbTab._2, cols, fmt.toUpperCase, p.rest)
          }
        }
        else Left(s"INSERT: expected VALUES, SELECT or FORMAT at ${p.posText}")
      }
    } yield stmt

  private def parseValuesRows(p: P): Either[String, Seq[Seq[Option[String]]]] = {
    val rows = ArrayBuffer.empty[Seq[Option[String]]]
    var go = true
    while (go) {
      if (!p.eatPunct("(")) return Left(s"expected '(' at ${p.posText}")
      val row = ArrayBuffer.empty[Option[String]]
      var more = true
      while (more) {
        val neg = p.eatPunct("-")
        p.peek match {
          case Some(StrLit(s, _)) => p.next(); row += Some("'" + s.replace("'", "''") + "'")
          case Some(NumLit(s, _)) => p.next(); row += Some((if (neg) "-" else "") + s)
          case Some(Ident(s, _)) if s.equalsIgnoreCase("null") => p.next(); row += None
          case Some(Ident(s, _)) if s.equalsIgnoreCase("true") => p.next(); row += Some("1")
          case Some(Ident(s, _)) if s.equalsIgnoreCase("false") => p.next(); row += Some("0")
          // complex literal — `[…]` array, or a constructor call like
          // map('a', 1) / array(…) / named_struct(…): captured as raw
          // balanced text and evaluated through the SELECT path
          case Some(t) if !neg && (t.text == "[" ||
              (t.isInstanceOf[Ident] &&
                p.peekAt(1).exists(_.text == "("))) =>
            val from = t.pos
            var depth = 0
            var done = false
            while (!done && p.peek.isDefined) {
              p.next().text match {
                case "(" | "[" => depth += 1
                case ")" | "]" => depth -= 1
                case _ => ()
              }
              done = depth == 0 && (p.peek.isEmpty ||
                p.isPunct(",") || p.isPunct(")"))
            }
            val end = p.peek.map(_.pos).getOrElse(p.sql.length)
            row += Some(p.sql.substring(from, end).trim)
          case other => return Left(s"bad literal in VALUES: ${other.map(_.text)}")
        }
        more = p.eatPunct(",")
      }
      if (!p.eatPunct(")")) return Left(s"expected ')' at ${p.posText}")
      rows += row.toSeq
      go = p.eatPunct(",")
    }
    Right(rows.toSeq)
  }

  /** Splice every DDL-position `ON CLUSTER x` out of a statement — a
    * single-process engine IS its whole cluster, so the clause is
    * accepted and dropped (real CH scripts carry it on nearly every
    * DDL). Applied only to command statements, never to SELECTs, where
    * `on` is a join keyword.
    */
  private def stripOnCluster(sql: String): String = {
    val s = Scan(sql)
    splice(sql, s.indices.collect {
      case i if s.kw(i, "on") && s.kw(i + 1, "cluster") &&
          (s.ident(i + 2).isDefined || s.str(i + 2).isDefined) =>
        // end at the NEXT token's start (escaped string literals make
        // the raw span of toks(i+2) non-recoverable from its text)
        (s.pos(i), s.pos(i + 3), "")
    })
  }

  /** Parse one statement. */
  def parse(sql0: String): Either[String, ChStatement] = {
    val ddlHead = ("(?is)^\\s*(create|drop|alter|rename|truncate|detach|" +
      "attach|exchange|optimize)\\b").r
    val sql = if (ddlHead.findFirstIn(sql0).isDefined) stripOnCluster(sql0)
              else sql0
    parseInner(sql)
  }

  private def parseInner(sql: String): Either[String, ChStatement] = {
    val s = Scan(sql)
    s.error.toLeft(new P(s))
  }.flatMap { p =>
    if (p.isKw("select") || p.isKw("with")) Right(Select(sql))
    else if (p.isKw("explain")) {
      p.next()
      val kind =
        if (p.eatKw("ast")) "ast"
        else if (p.eatKw("syntax")) "syntax"
        else if (p.eatKw("pipeline")) "pipeline"
        else { p.eatKw("plan"); "plan" }
      Right(Explain(p.rest, kind))
    }
    else if (p.eatKw("create")) {
      if (p.eatKw("temporary")) {
        if (!p.eatKw("table"))
          Left(s"CREATE TEMPORARY: expected TABLE at ${p.posText}")
        else parseCreateTable(p).map(_.copy(temporary = true))
      } else if (p.eatKw("database")) {
        val ine = parseIfNotExists(p)
        p.ident().map(CreateDatabase(_, ine))
      } else if (p.eatKw("table")) parseCreateTable(p)
      else if (p.eatKw("materialized")) {
        if (!p.eatKw("view"))
          Left(s"CREATE MATERIALIZED: expected VIEW at ${p.posText}")
        else parseCreateMv(p)
      } else if (p.eatKw("view")) parseCreateView(p, orReplace = false)
      else if (p.eatKw("or")) {
        if (!p.eatKw("replace") || !p.eatKw("view"))
          Left(s"CREATE OR: expected REPLACE VIEW at ${p.posText}")
        else parseCreateView(p, orReplace = true)
      } else if (p.eatKw("dictionary")) parseCreateDictionary(p)
      else Left(s"CREATE: expected DATABASE, TABLE, DICTIONARY or " +
        s"[MATERIALIZED] VIEW at ${p.posText}")
    } else if (p.eatKw("drop")) {
      if (p.eatKw("database")) {
        val ie = parseIfNotExists(p)
        p.ident().map(DropDatabase(_, ie))
      } else if (p.eatKw("table")) {
        val ie = parseIfNotExists(p)
        qualifiedName(p).map { case (db, t) => DropTable(db, t, ie) }
      } else if (p.eatKw("view")) {
        val ie = parseIfNotExists(p)
        qualifiedName(p).map { case (db, t) => DropView(db, t, ie) }
      } else if (p.eatKw("dictionary")) {
        val ie = parseIfNotExists(p)
        qualifiedName(p).map { case (db, t) => DropDictionary(db, t, ie) }
      } else Left(s"DROP: expected DATABASE, TABLE, VIEW or DICTIONARY at ${p.posText}")
    } else if (p.eatKw("truncate")) {
      p.eatKw("table")
      val ie = parseIfNotExists(p)
      qualifiedName(p).map { case (db, t) => TruncateTable(db, t, ie) }
    } else if (p.eatKw("detach")) {
      for {
        _ <- p.expectKw("table")
        dbTab <- qualifiedName(p)
      } yield DetachTable(dbTab._1, dbTab._2)
    } else if (p.eatKw("attach")) {
      for {
        _ <- p.expectKw("table")
        dbTab <- qualifiedName(p)
      } yield AttachTable(dbTab._1, dbTab._2)
    } else if (p.eatKw("exchange")) {
      for {
        _ <- p.expectKw("tables")
        a <- qualifiedName(p)
        _ <- p.expectKw("and")
        b <- qualifiedName(p)
      } yield ExchangeTables(a._1, a._2, b._1, b._2)
    } else if (p.eatKw("rename")) {
      if (!p.eatKw("table")) Left(s"RENAME: expected TABLE at ${p.posText}")
      else {
        val buf = ArrayBuffer.empty[((Option[String], String), (Option[String], String))]
        var err: Option[String] = None
        var go = true
        while (go && err.isEmpty) {
          (for {
            from <- qualifiedName(p)
            _ <- p.expectKw("to")
            to <- qualifiedName(p)
          } yield (from, to)) match {
            case Right(pair) => buf += pair; go = p.eatPunct(",")
            case Left(e) => err = Some(e)
          }
        }
        err.toLeft(RenameTable(buf.toSeq))
      }
    } else if (p.eatKw("alter")) {
      if (!p.eatKw("table")) Left(s"ALTER: expected TABLE at ${p.posText}")
      else qualifiedName(p).flatMap { case (db, tab) =>
        if (p.eatKw("add")) {
          if (p.eatKw("index")) for {
            ine <- Right(parseIfNotExists(p))
            body <- {
              val b = p.sliceBalancedUntil(_.isPunct(";"))
              if (b.trim.isEmpty)
                Left(s"ADD INDEX: expected a definition at ${p.posText}")
              else Right(b.trim)
            }
            nm <- {
              val n = body.split("\\s+").head
              if (n.isEmpty) Left("ADD INDEX: missing index name")
              else Right(n)
            }
          } yield AlterIndex(db, tab, "add", nm, Some(body), ifExists = ine)
          else if (p.eatKw("projection")) for {
            ine <- Right(parseIfNotExists(p))
            pn <- p.ident()
            _ <- p.expectPunct("(")
            body <- Right(p.sliceBalancedUntil(_.isPunct(")")))
            _ <- p.expectPunct(")")
            _ <- if (body.nonEmpty) Right(())
                 else Left(s"ADD PROJECTION: empty body at ${p.posText}")
          } yield AlterProjection(db, tab, "add", pn, Some(body),
            ifNotExists = ine)
          else if (p.eatKw("constraint")) for {
            ine <- Right(parseIfNotExists(p))
            cn <- p.ident()
            _ <- p.expectKw("check")
            body <- {
              val b = p.sliceBalancedUntil(_.isPunct(";")).trim
              if (b.isEmpty)
                Left(s"ADD CONSTRAINT: expected a CHECK expression at ${p.posText}")
              else Right(b)
            }
          } yield AlterConstraint(db, tab, "add", cn, Some(body),
            ifNotExists = ine)
          else for {
            _ <- p.expectKw("column")
            ine <- Right(parseIfNotExists(p))
            col <- columnDef(p)
          } yield AlterAddColumn(db, tab, col, ine)
        }
        else if (p.eatKw("drop")) {
          if (p.eatKw("index")) {
            val ie = parseIfNotExists(p)
            p.ident().map(n => AlterIndex(db, tab, "drop", n, None, ie))
          } else if (p.eatKw("projection")) {
            val ie = parseIfNotExists(p)
            p.ident().map(pn =>
              AlterProjection(db, tab, "drop", pn, None, ifExists = ie))
          } else if (p.eatKw("constraint")) {
            val ie = parseIfNotExists(p)
            p.ident().map(n =>
              AlterConstraint(db, tab, "drop", n, ifExists = ie))
          } else if (p.eatKw("column")) {
            val ie = parseIfNotExists(p)
            dottedIdent(p).map(c => AlterDropColumn(db, tab, c, ie))
          } else for {
            _ <- p.expectKw("partition")
            v <- partitionValue(p)
          } yield AlterPartition(db, tab, "drop", v)
        }
        else if (p.eatKw("materialize")) {
          if (p.eatKw("index"))
            p.ident().map(n => AlterIndex(db, tab, "materialize", n))
          else for {
            _ <- p.expectKw("projection")
            pn <- p.ident()
          } yield AlterProjection(db, tab, "materialize", pn, None)
        }
        else if (p.isKw("detach") || p.isKw("attach")) {
          val op = p.next().text.toLowerCase(java.util.Locale.ROOT)
          for {
            _ <- p.expectKw("partition")
            v <- partitionValue(p)
          } yield AlterPartition(db, tab, op, v)
        }
        else if (p.eatKw("rename")) for {
          _ <- p.expectKw("column")
          from <- p.ident()
          _ <- p.expectKw("to")
          to <- p.ident()
        } yield AlterRenameColumn(db, tab, from, to)
        else if (p.eatKw("modify")) {
          if (p.eatKw("ttl")) {
            val e = p.sliceUntil(_.isPunct(";")).trim
            if (e.isEmpty)
              Left(s"MODIFY TTL: expected an expression at ${p.posText}")
            else Right(AlterTtl(db, tab, Some(e)))
          } else for {
            _ <- p.expectKw("column")
            c <- p.ident()
            t <- typeName(p)
          } yield AlterModifyColumn(db, tab, c, t)
        }
        else if (p.eatKw("remove")) for {
          _ <- p.expectKw("ttl")
        } yield AlterTtl(db, tab, None)
        // CLEAR COLUMN c IN PARTITION v — reset to the declared
        // DEFAULT/type-zero within one partition (CH's partition-scoped
        // column reset); desugars onto the mutation machinery
        else if (p.eatKw("clear")) for {
          _ <- p.expectKw("column")
          c <- p.ident()
          _ <- p.expectKw("in")
          _ <- p.expectKw("partition")
          v <- partitionValue(p)
        } yield AlterClearColumn(db, tab, c, v)
        else if (p.eatKw("delete")) for {
          pv <- inPartitionOpt(p)
          _ <- p.expectKw("where")
          w <- mutationWhere(p, "ALTER TABLE ... DELETE")
        } yield AlterMutate(db, tab, Nil, w, pv)
        else if (p.eatKw("update")) {
          val sets = Vector.newBuilder[(String, String)]
          var err: Option[String] = None
          var go = true
          while (go && err.isEmpty) {
            (for {
              c <- p.ident()
              _ <- p.expectPunct("=")
              e <- Right(p.sliceBalancedUntil(q =>
                q.isPunct(",") || q.isKw("where") ||
                  (q.isKw("in") && q.isKwAt(1, "partition"))))
              _ <- if (e.nonEmpty) Right(())
                   else Left(s"ALTER TABLE ... UPDATE: empty assignment " +
                     s"for $c at ${p.posText}")
            } yield (c, e)) match {
              case Right(se) => sets += se; go = p.eatPunct(",")
              case Left(e) => err = Some(e)
            }
          }
          err match {
            case Some(e) => Left(e)
            case None => for {
              pv <- inPartitionOpt(p)
              _ <- p.expectKw("where")
              w <- mutationWhere(p, "ALTER TABLE ... UPDATE")
            } yield AlterMutate(db, tab, sets.result(), w, pv)
          }
        }
        else Left(s"ALTER TABLE: expected ADD/DROP/RENAME/MODIFY COLUMN, " +
          s"ADD/DROP/MATERIALIZE PROJECTION, DROP/DETACH/ATTACH PARTITION, " +
          s"DELETE WHERE or UPDATE at ${p.posText}")
      }
    } else if (p.eatKw("delete")) {
      // ClickHouse's lightweight delete — same engine path as the
      // ALTER TABLE ... DELETE mutation
      for {
        _ <- p.expectKw("from")
        dbTab <- qualifiedName(p)
        pv <- inPartitionOpt(p)
        _ <- p.expectKw("where")
        w <- mutationWhere(p, "DELETE FROM")
      } yield AlterMutate(dbTab._1, dbTab._2, Nil, w, pv)
    } else if (p.eatKw("show")) {
      if (p.eatKw("databases")) Right(ShowDatabases)
      else if (p.eatKw("tables")) {
        val db = if (p.eatKw("from") || p.eatKw("in")) p.ident().toOption else None
        val neg = p.eatKw("not")
        if (p.eatKw("like") || p.eatKw("ilike")) p.peek match {
          case Some(StrLit(pat, _)) => p.next(); Right(ShowTables(db, Some(pat), neg))
          case other => Left(s"SHOW TABLES LIKE: expected a pattern, got ${other.map(_.text)}")
        } else if (neg) Left(s"SHOW TABLES NOT: expected LIKE at ${p.posText}")
        else Right(ShowTables(db))
      } else if (p.eatKw("create")) {
        p.eatKw("table")
        qualifiedName(p).map { case (db, t) => ShowCreateTable(db, t) }
      } else if (p.eatKw("columns")) {
        if (!(p.eatKw("from") || p.eatKw("in")))
          Left(s"SHOW COLUMNS: expected FROM at ${p.posText}")
        else qualifiedName(p).map { case (db, t) => ShowColumns(db, t) }
      } else if (p.eatKw("processlist")) Right(ShowProcesslist)
      else if (p.eatKw("dictionaries")) Right(ShowDictionaries)
      else Left(s"SHOW: expected DATABASES, TABLES, COLUMNS, PROCESSLIST " +
        s"or CREATE TABLE at ${p.posText}")
    } else if (p.isKw("system")) {
      // `SYSTEM RELOAD DICTIONARY d` (other SYSTEM verbs unsupported).
      // NOTE: `system` is also a database name in SELECTs; only the
      // statement-initial keyword position reaches here.
      p.next()
      for {
        _ <- p.expectKw("reload")
        st <- {
          if (p.eatKw("dictionaries")) Right(ReloadDictionaries)
          else for {
            _ <- p.expectKw("dictionary")
            dbTab <- qualifiedName(p)
          } yield ReloadDictionary(dbTab._1, dbTab._2)
        }
      } yield st
    } else if (p.eatKw("kill")) {
      for {
        _ <- p.expectKw("query")
        _ <- p.expectKw("where")
        k <- p.ident()
        _ <- if (k.equalsIgnoreCase("query_id")) Right(())
             else Left(s"KILL QUERY: expected query_id = '…', got $k")
        _ <- p.expectPunct("=")
        v <- p.peek match {
          case Some(StrLit(s, _)) => p.next(); Right(s)
          case other => Left(
            s"KILL QUERY: expected a quoted query id, got ${other.map(_.text)}")
        }
      } yield KillQuery(v)
    } else if (p.eatKw("exists")) {
      p.eatKw("table")
      qualifiedName(p).map { case (db, t) => ExistsTable(db, t) }
    } else if (p.eatKw("desc") || p.eatKw("describe")) {
      p.eatKw("table")
      // DESC (SELECT ...) — CH's query-schema introspection
      if (p.isPunct("(")) {
        p.next()
        val sel = p.sliceBalancedUntil(q => q.isPunct(")"))
        p.eatPunct(")")
        if (sel.trim.isEmpty) Left("DESCRIBE: empty subquery")
        else Right(DescSelect(sel))
      } else qualifiedName(p).map { case (db, t) => DescTable(db, t) }
    } else if (p.eatKw("use")) {
      p.ident().map(UseDb(_))
    } else if (p.eatKw("optimize")) {
      p.eatKw("table")
      qualifiedName(p).flatMap { case (db, t) =>
        val pv = if (p.eatKw("partition")) partitionValue(p).map(Some(_))
                 else Right(None)
        pv.flatMap { v =>
          val fin = p.eatKw("final")
          val dedup = p.eatKw("deduplicate")
          // CH's DEDUPLICATE BY col[, col...]: duplicates are judged on
          // the listed columns only (plain column names here)
          val by: Either[String, Option[Seq[String]]] =
            if (dedup && p.eatKw("by")) {
              val names = ArrayBuffer.empty[String]
              var err: Option[String] = None
              var go = true
              while (go && err.isEmpty) {
                p.ident() match {
                  case Right(n) => names += n; go = p.eatPunct(",")
                  case Left(e) => err = Some(e)
                }
              }
              err.toLeft(Some(names.toSeq))
            } else Right(None)
          by.map(b => OptimizeTable(db, t, fin = fin, partition = v,
            dedup = dedup, dedupBy = b))
        }
      }
    } else if (p.eatKw("insert")) {
      parseInsert(p)
    } else Left(s"unrecognized statement at ${p.posText}")
  }

  /** Lexical occurrences of `fn(lit, lit, ...)` with only string/number
    * literal arguments, OUTSIDE string literals and comments (the
    * tokenizer skips both). Returns (startOffset, endOffsetExclusive,
    * unquoted argument texts) per call — the SELECT-passthrough rewrites
    * (`numbers()`, `remote()`) splice on these spans instead of regexing
    * raw text, so `SELECT 'numbers(5)'` survives untouched.
    */
  def tableFnCalls(sql: String, fn: String): Seq[(Int, Int, Seq[String])] = {
    val s = Scan(sql)
    val out = ArrayBuffer.empty[(Int, Int, Seq[String])]
    var i = 0
    while (i < s.length) {
      if (s.kw(i, fn) && s.punct(i + 1, "(")) {
        val args = ArrayBuffer.empty[String]
        var j = i + 2
        var endPos = -1
        var ok = true
        var expectArg = true
        while (endPos < 0 && ok && j < s.length) {
          s(j) match {
            case StrLit(a, _) if expectArg => args += a; expectArg = false
            case NumLit(a, _) if expectArg => args += a; expectArg = false
            case Punct(",", _) if !expectArg => expectArg = true
            case Punct(")", p) if !expectArg => endPos = p + 1
            case _ => ok = false
          }
          j += 1
        }
        if (ok && endPos > 0) { out += ((s.pos(i), endPos, args.toSeq)); i = j - 1 }
      }
      i += 1
    }
    out.toSeq
  }

  /** CH query-surface normalizations that don't change results, so a
    * clickhouse-client-authored SELECT runs unmodified:
    *   - a trailing `FORMAT name` (output formatting is the wire layer's
    *     concern; the engine always returns typed rows);
    *   - a trailing `SETTINGS k = v, …` (per-query knobs — Spark has its
    *     own conf surface; accepted and dropped);
    *   - zero-argument `count()` → `count(*)` (CH idiom);
    *   - the `GLOBAL` distribution hint before IN / JOIN (Spark's
    *     optimizer already picks broadcast vs shuffle).
    * All token-located at depth 0 — literals/comments never match.
    */
  def rewriteQueryTails(sql0: String): String = {
    var sql = sql0
    var changed = true
    var guard = 0
    while (changed && guard < 12) {
      changed = false; guard += 1
      val s = Scan(sql)
      val last = s.length - 1
      val end = if (s.punct(last, ";")) last - 1 else last
      // trailing FORMAT <name>
      if (end >= 1 && s.depth(end) == 0 && s.kw(end - 1, "format") &&
          s.ident(end, Set("format")).isDefined) {
        sql = sql.substring(0, s.pos(end - 1)).trim
        changed = true
      }
      // trailing SETTINGS k = v [, k = v …]
      if (!changed) {
        val si = s.indices.lastIndexWhere(s.top(_, "settings"))
        if (si > 0 && si < end) {
          var j = si + 1
          var ok = true
          while (ok && j <= end) {
            if (j + 2 <= end && s.ident(j).isDefined && s.punct(j + 1, "=") &&
                !s(j + 2).isInstanceOf[Punct]) {
              j += 3
              if (j <= end) { if (s.punct(j, ",")) j += 1 else ok = false }
            } else ok = false
          }
          if (ok && j == end + 1) {
            sql = sql.substring(0, s.pos(si)).trim + (if (last != end) ";" else "")
            changed = true
          }
        }
      }
      // CH dateDiff('unit', a, b[, tz]): Spark's parser owns the name
      // `datediff` and demands an UNQUOTED unit keyword, so the
      // quoted-unit CH form renames onto the registry builder
      // (chDateDiff). Spark's own unquoted form passes untouched.
      if (!changed) {
        val di = s.seek(0)(i => (s.kw(i, "datediff") || s.kw(i, "date_diff")) &&
          s.punct(i + 1, "(") && s.str(i + 2).isDefined)
        if (di < s.length) {
          sql = sql.substring(0, s.pos(di)) + "chDateDiff" +
            sql.substring(s.pos(di) + s(di).text.length)
          changed = true
        }
      }
      // count() → count(*)
      if (!changed) {
        val ci = s.seek(0)(i =>
          s.kw(i, "count") && s.punct(i + 1, "(") && s.punct(i + 2, ")"))
        if (ci < s.length) {
          sql = sql.substring(0, s.pos(ci)) + "count(*)" +
            sql.substring(s.pos(ci + 2) + 1)
          changed = true
        }
      }
      // CH `LIMIT off, n` → `LIMIT n OFFSET off` (not the LIMIT BY
      // form — a following BY keyword leaves it for that rewrite)
      if (!changed) {
        val li = s.seek(0)(i => s.top(i, "limit") && s.num(i + 1).isDefined &&
          s.punct(i + 2, ",") && s.num(i + 3).isDefined && !s.kw(i + 4, "by"))
        if (li < s.length) {
          val (off, n) = (s(li + 1).text, s(li + 3).text)
          sql = sql.substring(0, s.pos(li)) + s"LIMIT $n OFFSET $off" +
            sql.substring(s.pos(li + 3) + n.length)
          changed = true
        }
      }
      // bare `USING k1, k2` (CH allows it; Spark requires parens)
      if (!changed) {
        val ui = s.seek(0)(i => s.kw(i, "using") &&
          s.ident(i + 1, usingStops).exists(_.matches(plainName)))
        if (ui < s.length) {
          var j = ui + 1 // the list's last column
          while (s.punct(j + 1, ",") &&
              s.ident(j + 2, usingStops).exists(_.matches(plainName))) j += 2
          sql = sql.substring(0, s.pos(ui + 1)) +
            (ui + 1 to j by 2).map(s(_).text).mkString("(", ", ", ") ") +
            sql.substring(s.pos(j) + s(j).text.length)
          changed = true
        }
      }
      // GLOBAL before IN / NOT IN / a join word — but ONLY in modifier
      // position, i.e. right after an expression or relation (an
      // identifier that is not a clause keyword, a literal, or a
      // closing paren/bracket). `WHERE global IN (1,2)` keeps its
      // column named global (ADVICE r15 #5).
      if (!changed) {
        val gi = s.seek(0)(i => s.kw(i, "global") &&
          s.kwIn(i + 1, globalNext) && (s.lift(i - 1) match {
            case Some(Ident(w, _)) =>
              !globalAfter.contains(w.toLowerCase(Locale.ROOT))
            case Some(Punct(p, _)) => p == ")" || p == "]"
            case other => other.isDefined
          }))
        if (gi < s.length) {
          sql = sql.substring(0, s.pos(gi)) + sql.substring(s.pos(gi + 1))
          changed = true
        }
      }
    }
    sql
  }

  private val plainName = "[A-Za-z_][A-Za-z0-9_]*"
  private val usingStops = Set("from", "where", "group", "order", "limit",
    "on", "join", "left", "right", "inner", "full", "cross", "union",
    "intersect", "except", "having", "settings", "format", "as", "select",
    "with", "by", "using", "sample", "prewhere", "window", "qualify", "asof",
    "any", "all")
  private val globalNext = Set("in", "not", "any", "all", "left", "right",
    "inner", "full", "join")
  private val globalAfter = Set("select", "where", "and", "or", "on", "when",
    "then", "else", "by", "from", "having", "not", "in", "case", "between",
    "like", "as", "union", "all", "any", "distinct", "join", "cross", "comma")

  /** CH `[a, b, …]` array literals → Spark `array(a, b, …)`. A '[' that
    * follows a non-keyword identifier, ')' or ']' is SUBSCRIPTING
    * (arr[1]) and is left alone — only expression-position brackets are
    * literals. (Subscripting itself stays Spark-semantics: 0-based — a
    * documented divergence from CH's 1-based arrays; CH code normally
    * uses arrayElement/has/indexOf, which the function packs carry.)
    */
  def rewriteArrayLiterals(sql0: String): String = {
    val s = Scan(sql0)
    // style per bracket: 0 = subscript (untouched), 1 = array literal,
    // 2 = IN-list (CH `x IN ['a','b']` is list membership → plain parens)
    val opens = scala.collection.mutable.Map.empty[Int, Int]
    val closes = scala.collection.mutable.Map.empty[Int, Int]
    val stack = scala.collection.mutable.Stack.empty[Int]
    for (ti <- s.indices) {
      if (s.punct(ti, "[")) {
        val style = s.lift(ti - 1) match {
          case Some(Ident(n, _)) if n.equalsIgnoreCase("in") => 2
          case Some(Ident(n, _))
              if !arrayLitAfter.contains(n.toLowerCase(Locale.ROOT)) => 0
          case Some(Punct(")" | "]", _)) => 0
          case _ => 1
        }
        stack.push(style)
        if (style != 0) opens += (s.pos(ti) -> style)
      } else if (s.punct(ti, "]") && stack.nonEmpty) {
        val style = stack.pop()
        if (style != 0) closes += (s.pos(ti) -> style)
      }
    }
    if (opens.isEmpty) sql0
    else {
      val sb = new StringBuilder
      var i = 0
      while (i < sql0.length) {
        opens.get(i) match {
          case Some(2) => sb.append("(")
          case Some(_) => sb.append("array(")
          case None =>
            if (closes.contains(i)) sb.append(")")
            else sb.append(sql0.charAt(i))
        }
        i += 1
      }
      sb.toString
    }
  }

  private val arrayLitAfter = Set("in", "and", "or", "not", "when", "then",
    "else", "select", "where", "by", "having", "on", "using", "values", "as",
    "is", "between", "like", "limit", "union", "all", "any", "distinct",
    "array", "from", "return", "returns")

  /** CH scalar WITH — `WITH <expr> AS name, … SELECT …` binds expression
    * ALIASES (including scalar subqueries: `WITH (SELECT max(x) FROM t)
    * AS mx`), substituted wherever the alias appears. CTE-form items
    * (`name AS (SELECT …)`) leave the statement untouched — Spark's own
    * WITH handles those. Substitution skips qualified references
    * (a.name / name.a) and function calls name(…), and wraps each
    * splice in parens.
    */
  def rewriteScalarWith(sql0: String): String = {
    val s = Scan(sql0)
    // split prologue items at depth-0 commas; the prologue ends at the
    // depth-0 SELECT
    val selIdx = s.seek(1)(s.top(_, "select"))
    if (!s.kw(0, "with") || selIdx == s.length) return sql0
    val cuts = (1 until selIdx).filter(i => s.depth(i) == 0 && s.punct(i, ","))
    val items = (1 +: cuts.map(_ + 1)).zip(cuts :+ selIdx) // [start, end)
    // CTE form anywhere → not scalar WITH
    if (items.exists { case (a, b) =>
          b - a >= 3 && s.ident(a).isDefined && s.kw(a + 1, "as") &&
            s.punct(a + 2, "(") }) return sql0
    val binds = items.map { case (a, b) =>
      s.ident(b - 1).filter(_ => b - a >= 3 && s.kw(b - 2, "as"))
        .map(_ -> s.slice(a, b - 2)).filter(_._2.nonEmpty)
        .getOrElse(return sql0)
    }.toMap
    // rebuild: the main query with alias tokens substituted
    val mainStart = s.pos(selIdx)
    splice(sql0.substring(mainStart), (selIdx until s.length).collect {
      case i if s.ident(i).exists(binds.contains) && !s.punct(i + 1, "(") &&
          !s.punct(i + 1, ".") && !s.punct(i - 1, ".") =>
        (s.pos(i) - mainStart, s.pos(i) - mainStart + s(i).text.length,
          s"(${binds(s(i).text)})")
    })
  }

  /** CH parametric quantiles — `quantile[Exact|TDigest](p)(x)` and the
    * plural `quantiles…(p1, p2, …)(x)` — onto Spark's percentile
    * family: Exact → percentile (true rank), the rest →
    * percentile_approx; plural forms pass the probability array through
    * (Spark returns an array, like CH).
    */
  def rewriteQuantiles(sql0: String): String = {
    val fns = Map(
      "quantile" -> "percentile_approx", "quantiletdigest" -> "percentile_approx",
      "quantileexact" -> "percentile", "quantiles" -> "percentile_approx",
      "quantilesexact" -> "percentile", "quantilestdigest" -> "percentile_approx",
      // the mergeable-state reader keeps its own name — the builder in
      // ChAggregates folds stored digest states and reads the p-quantile
      "quantiletdigestmerge" -> "quantileTDigestMerge",
      "quantilestdigestmerge" -> "quantilesTDigestMerge",
      // parametric topK states (d32): `topKState(k)(x)` /
      // `topKMerge(k)(state)` — same (arg, k) delivery as the
      // quantile-merge readers
      "topkstate" -> "topKState",
      "topkmerge" -> "topKMerge")
    var sql = sql0
    var changed = true
    var guard = 0
    while (changed && guard < 8) {
      changed = false; guard += 1
      val s = Scan(sql)
      var i = 0
      while (!changed && i < s.length) {
        s.ident(i).map(_.toLowerCase(Locale.ROOT)).filter(fns.contains) match {
          case Some(n) if s.punct(i + 1, "(") =>
            // params: literal numbers up to the closing ')'
            var j = i + 2
            val ps = scala.collection.mutable.ArrayBuffer.empty[String]
            var ok = true
            while (ok && j < s.length && !s.punct(j, ")")) s.num(j) match {
              case Some(v) => ps += v; j += 1; if (s.punct(j, ",")) j += 1
              case None => ok = false
            }
            // arg: balanced slice to the matching ')'
            if (ok && ps.nonEmpty && s.punct(j, ")")) s.close(j + 1).foreach { k =>
              val pexpr =
                if (n.startsWith("quantiles")) ps.mkString("array(", ", ", ")")
                else ps.head
              sql = sql.substring(0, s.pos(i)) +
                s"${fns(n)}((${s.slice(j + 2, k)}), $pexpr)" +
                sql.substring(s.pos(k) + 1)
              changed = true
            }
          case _ => ()
        }
        i += 1
      }
    }
    sql
  }

  /** CH join STRICTNESS: `ANY [LEFT|RIGHT|INNER] JOIN rel … USING (k…)`
    * keeps at most ONE right-side row per join key. Rewritten to a join
    * against the key-deduplicated relation — full-row-min per key via a
    * row_number over `struct(*)`, DETERMINISTIC where CH's pick is
    * arbitrary (the same pinned divergence the no-version
    * ReplacingMergeTree documents). `ALL` (CH's default strictness
    * spelled out) is dropped by [[rewriteQueryTails]]'s GLOBAL/ALL
    * handling path here. Scope: the relation must be a plain table
    * name and the join must use USING — ON-form ANY joins error loudly.
    */
  def rewriteAnyJoin(sql0: String): String = {
    var sql = sql0
    var changed = true
    var guard = 0
    while (changed && guard < 8) {
      changed = false; guard += 1
      val s = Scan(sql)
      val joinWords = Set("left", "right", "inner", "join")
      var i = 0
      while (!changed && i < s.length) {
        if (s.kw(i, "all") && s.kwIn(i + 1, joinWords)) {
          // ALL JOIN is the default strictness: drop the word
          sql = sql.substring(0, s.pos(i)) + sql.substring(s.pos(i + 1))
          changed = true
        } else if (s.kw(i, "any") && s.kwIn(i + 1, joinWords)) {
          var j = i + 1
          while (!s.kw(j, "join") && j < i + 3) j += 1
          if (!s.kw(j, "join"))
            throw new IllegalArgumentException(
              "ANY JOIN: unsupported join form after ANY")
          val joinType = if (j > i + 1) s.ident(i + 1).get else "inner"
          val rel = s.ident(j + 1).filter(_.matches(plainName))
            .getOrElse(throw new IllegalArgumentException(
              "ANY JOIN: the right side must be a plain table name"))
          var k = j + 2
          val alias =
            if (s.kw(k, "as")) { k += 1; s.ident(k).map { a => k += 1; a } }
            else s.ident(k, Set("using", "on")).map { a => k += 1; a }
          if (!s.kw(k, "using"))
            throw new IllegalArgumentException(
              "ANY JOIN: only the USING form is supported (spell the " +
                "dedup explicitly for ON-joins)")
          // read the USING column list WITHOUT consuming it
          var u = k + 1
          val cols = scala.collection.mutable.ArrayBuffer.empty[String]
          if (s.punct(u, "(")) {
            u += 1
            while (u < s.length && !s.punct(u, ")")) {
              s.ident(u).foreach(cols += _)
              u += 1
            }
          } else s.ident(u).foreach(cols += _)
          require(cols.nonEmpty, "ANY JOIN: empty USING list")
          val pby = cols.map(c => s"`$c`").mkString(", ")
          val a = alias.getOrElse(rel)
          val dedup = s"(SELECT * EXCEPT (__graft_rn) FROM (SELECT *, " +
            s"row_number() OVER (PARTITION BY $pby ORDER BY struct(*)) " +
            s"AS __graft_rn FROM $rel) __graft_any_$a " +
            s"WHERE __graft_rn = 1) AS $a"
          val repl = (if (joinType.equalsIgnoreCase("inner")) "JOIN"
                      else s"${joinType.toUpperCase(Locale.ROOT)} JOIN") +
            " " + dedup
          // up to the start of USING — keep it
          sql = sql.substring(0, s.pos(i)) + repl + " " + sql.substring(s.pos(k))
          changed = true
        }
        i += 1
      }
    }
    sql
  }

  /** Split a multi-statement script on blank lines + ';' like the
    * reference's script runner (crates/tests_integ/src/sql_test_runner.rs:50-95).
    */
  def splitScript(script: String): Seq[String] =
    script.split("\n\\s*\n").map(_.trim).filter(s => s.nonEmpty && !s.startsWith(":"))
      .flatMap(stmt => splitStatements(stmt).getOrElse(Seq(stmt))).toSeq

  /** Split on top-level ';' (string/comment-aware via the tokenizer) —
    * the grammar's `cmd_list = cmd+ (";" cmd)*` (bql.pest:8). Once an
    * INSERT … FORMAT statement begins, splitting STOPS: the remainder is
    * that statement's opaque payload (legal CSV data contains ';', and the
    * reference streams the payload outside the statement text entirely,
    * mgmt.rs:724-730).
    */
  def splitStatements(sql: String): Either[String, Seq[String]] = {
    val s = Scan(sql)
    s.error.toLeft {
      val out = ArrayBuffer.empty[String]
      var start = 0 // char offset where the current statement begins
      var first: Option[String] = None // first keyword of current statement
      var opaque = false
      var ti = 0
      while (ti < s.length && !opaque) {
        // depth: FORMAT inside a column list isn't the clause
        s(ti) match {
          case Punct(";", pos) if s.depth(ti) == 0 =>
            out += sql.substring(start, pos)
            start = pos + 1
            first = None
          case Ident(t, _) =>
            if (first.isEmpty) first = Some(t.toLowerCase)
            else if (s.depth(ti) == 0 && first.contains("insert") &&
              t.equalsIgnoreCase("format")) opaque = true
          case _ => ()
        }
        ti += 1
      }
      (out += sql.substring(start)).map(_.trim).filter(_.nonEmpty).toSeq
    }
  }

  /** The pieces of a `SELECT … [ORDER BY o] LIMIT [m,]n BY exprs [LIMIT k]`
    * statement — ClickHouse's per-group LIMIT BY clause
    * (docs/lang.md lists the dialect family; the clause itself is CH
    * grammar the reference's planner does not reach). `core` is the text
    * before ORDER BY / LIMIT BY, `orderBy`/`outer` the optional clause
    * texts, `offset`+`n` the per-group window.
    */
  final case class LimitByParts(core: String, orderBy: Option[String],
                                offset: Long, n: Long, by: String,
                                outer: Option[String])

  /** Find a TOP-LEVEL `LIMIT [m,]n BY …` clause (string/comment-aware,
    * paren-depth 0 — a LIMIT inside a subquery or window never matches).
    * Returns None for statements without the clause, set operations
    * (UNION/INTERSECT/EXCEPT at top level — scope would be ambiguous),
    * or untokenizable input (the real parser reports those).
    */
  def splitLimitBy(sql: String): Option[LimitByParts] = {
    val s = Scan(sql)
    // locate LIMIT [m,]n BY at depth 0
    val li = s.seek(0)(i => s.top(i, "LIMIT") && s.int(i + 1).isDefined &&
      (s.kw(i + 2, "BY") ||
        (s.punct(i + 2, ",") && s.int(i + 3).isDefined && s.kw(i + 4, "BY"))))
    val twoArg = !s.kw(li + 2, "BY")
    val by = if (twoArg) li + 5 else li + 3 // first token of the BY list
    if (li == s.length || s.setOp || by >= s.length) None
    else {
      val (off, n) =
        if (twoArg) (s.int(li + 1).get, s.int(li + 3).get) else (0L, s.int(li + 1).get)
      // ORDER BY before the clause (depth 0)
      val ord = s.seek(0)(i => i < li && s.top(i, "ORDER") && s.kw(i + 1, "BY"))
      // outer LIMIT after the BY exprs (depth 0)
      val outer = s.seek(by)(s.top(_, "LIMIT"))
      val stops = Set("limit")
      val byText = s.slice(by, s.seek(by)(s.stop(_, stops)))
      if (byText.isEmpty) None
      else Some(LimitByParts(sql.substring(0, s.pos(math.min(ord, li))).trim,
        Option.when(ord < li)(s.slice(ord + 2, li)), off, n, byText,
        Option.when(outer + 1 < s.length)(
          sql.substring(s.pos(outer + 1)).replaceAll(";\\s*$", "").trim)))
    }
  }

  /** The pieces of a `SELECT … INTO OUTFILE 'path' [FORMAT f]` statement —
    * ClickHouse's file-export clause. `core` is the SELECT text before
    * INTO; `format` the optional FORMAT name.
    */
  final case class IntoOutfileParts(core: String, path: String,
                                    format: Option[String])

  /** Find a TOP-LEVEL `INTO OUTFILE '<path>' [FORMAT name]` tail (depth-0,
    * string-aware; None when absent, when the path is not a string
    * literal, or when anything but the optional FORMAT and ';' follows).
    */
  def splitIntoOutfile(sql: String): Option[IntoOutfileParts] = {
    val s = Scan(sql)
    val i = s.seek(0)(j => s.top(j, "INTO") && s.kw(j + 1, "OUTFILE"))
    val (format, end) =
      if (s.kw(i + 3, "FORMAT")) (s.ident(i + 4), i + 5) else (None, i + 3)
    s.str(i + 2).filter(_ => (end == i + 3 || format.isDefined) &&
        (end until s.length).forall(s.punct(_, ";")))
      .map(IntoOutfileParts(sql.substring(0, s.pos(i)).trim, _, format))
  }

  /** The pieces of a `SELECT … ORDER BY o LIMIT n WITH TIES` statement —
    * the ties-extending LIMIT (ClickHouse and the SQL standard's FETCH
    * FIRST … WITH TIES). `core` is the text before ORDER BY.
    */
  final case class LimitTiesParts(core: String, orderBy: String, n: Long)

  /** Find a TOP-LEVEL `LIMIT n WITH TIES` (depth-0, string-aware; None
    * without the clause, for set operations, when ORDER BY is absent —
    * CH itself rejects that — or when anything but ';' follows TIES).
    */
  def splitLimitTies(sql: String): Option[LimitTiesParts] = {
    val s = Scan(sql)
    val i = s.seek(0)(j => s.top(j, "LIMIT") && s.int(j + 1).isDefined &&
      s.kw(j + 2, "WITH") && s.kw(j + 3, "TIES"))
    val ord = s.seek(0)(j => j < i && s.top(j, "ORDER") && s.kw(j + 1, "BY"))
    if (i == s.length || s.setOp || ord >= i ||
        !(i + 4 until s.length).forall(s.punct(_, ";"))) None
    else Some(s.slice(ord + 2, i)).filter(_.nonEmpty).map(
      LimitTiesParts(sql.substring(0, s.pos(ord)).trim, _, s.int(i + 1).get))
  }

  /** The pieces of a `… ORDER BY col WITH FILL [FROM a] [TO b] [STEP s]`
    * statement — ClickHouse's gap-filling ORDER BY modifier. `core` is
    * the text before ORDER BY; `col` must be a plain identifier (the
    * rewrite joins the generated grid back USING it).
    */
  final case class WithFillParts(core: String, col: String,
                                 from: Option[Long], to: Option[Long],
                                 step: Long,
                                 interpolate: Seq[String] = Nil)

  /** Find a TOP-LEVEL `ORDER BY <ident> [ASC] WITH FILL …` tail. Scope
    * v1 (documented): single ascending identifier key, integer literal
    * FROM/TO/STEP (TO is EXCLUSIVE, CH's contract), nothing after the
    * modifiers but ';'. Anything else → None (the statement runs
    * unrewritten and Spark reports its own error for true CH-isms).
    */
  def splitWithFill(sql: String): Option[WithFillParts] = {
    val s = Scan(sql)
    val oi = s.seek(0)(i => s.top(i, "ORDER") && s.kw(i + 1, "BY"))
    s.ident(oi + 2, Set("asc", "desc")).flatMap { col =>
      var j = oi + 3
      if (s.kw(j, "ASC")) j += 1
      if (!(s.kw(j, "WITH") && s.kw(j + 1, "FILL"))) None
      else {
        j += 2
        var from: Option[Long] = None
        var to: Option[Long] = None
        var step = 1L
        val interp = ArrayBuffer.empty[String]
        var ok = true
        while (ok && j < s.length && !s.punct(j, ";")) {
          if (s.kw(j, "FROM")) s.signedNum(j + 1) match {
            case Some((v, c)) => from = Some(v); j += 1 + c
            case None => ok = false
          } else if (s.kw(j, "TO")) s.signedNum(j + 1) match {
            case Some((v, c)) => to = Some(v); j += 1 + c
            case None => ok = false
          } else if (s.kw(j, "STEP")) s.signedNum(j + 1) match {
            case Some((v, c)) if v > 0 => step = v; j += 1 + c
            case _ => ok = false
          } else if (s.kw(j, "INTERPOLATE") && s.punct(j + 1, "(")) {
            // INTERPOLATE (c1 [, c2]...) — carry-forward columns on
            // filled rows. The `col AS expr` form is CH-iterative
            // (each filled row builds on the previous FILLED row)
            // and out of v1 scope: reject via ok=false so the
            // caller errors loudly rather than interpolating wrong.
            j += 2
            var more = true
            while (ok && more) s.ident(j) match {
              case Some(c) =>
                interp += c; j += 1
                if (s.punct(j, ",")) j += 1
                else if (s.punct(j, ")")) { j += 1; more = false }
                else ok = false
              case None => ok = false
            }
          } else ok = false
        }
        if (ok) Some(WithFillParts(sql.substring(0, s.pos(oi)).trim,
          col, from, to, step, interp.toSeq))
        else None
      }
    }
  }

  /** The pieces of a `… GROUP BY exprs WITH TOTALS …` statement —
    * ClickHouse's totals-row modifier. `pre` is the text before GROUP,
    * `groupExprs` the grouping expression list, `tail` everything after
    * TOTALS (HAVING/ORDER BY/LIMIT intact).
    */
  final case class WithTotalsParts(pre: String, groupExprs: String,
                                   tail: String)

  /** Find a TOP-LEVEL `GROUP BY … WITH TOTALS` (depth-0, string-aware;
    * None for statements without it or for set operations, whose clause
    * scope would be ambiguous).
    */
  def splitWithTotals(sql: String): Option[WithTotalsParts] = {
    val s = Scan(sql)
    val g = s.seek(0)(i => s.top(i, "GROUP") && s.kw(i + 1, "BY"))
    val w = s.seek(0)(i => s.top(i, "WITH") && s.kw(i + 1, "TOTALS"))
    if (w == s.length || s.setOp || w <= g + 2) None
    else Some(s.slice(g + 2, w)).filter(_.nonEmpty).map(WithTotalsParts(
      sql.substring(0, s.pos(g)), _,
      sql.substring(s.pos(w + 1) + s(w + 1).text.length)))
  }

  /** All identifier tokens of an expression — column-reference detection
    * for DDL guards (comments/literals never contribute).
    */
  def tokenizedIdents(exprText: String): Seq[String] = {
    val s = Scan(exprText)
    s.indices.flatMap(s.ident(_))
  }

  /** Keywords that may directly follow a table ref — never bare aliases. */
  private val postTableKeywords: Set[String] = Set(
    "where", "group", "order", "having", "limit", "offset", "union",
    "intersect", "except", "join", "left", "right", "inner", "full",
    "cross", "outer", "semi", "anti", "on", "using", "as", "array",
    "settings", "asof", "any", "all", "global", "sample", "final",
    "prewhere", "with", "window", "qualify", "format", "into", "values",
    "select", "from", "when", "then", "else", "end", "and", "or", "not",
    "between", "in", "like", "ilike", "is", "null", "by", "ties",
    "distinct", "desc", "asc", "nulls", "first", "last", "interpolate")

  /** Names a statement DEFINES in table position rather than reads:
    * CTE/window names (`x AS (`), subquery aliases (`) [AS] x`) and
    * table aliases (`FROM t [AS] x`, `JOIN t [AS] x`). Select-list
    * `expr AS x` aliases are deliberately NOT collected — they don't
    * shadow FROM-scope columns. Used to scope the Nested-member rewrite
    * (ADVICE r18: `SELECT tag.name FROM t AS tag` must not backquote
    * `tag.name` just because some table declares a Nested family `tag`).
    */
  def definedNames(sql: String): Set[String] = {
    val s = Scan(sql)
    s.indices.flatMap { i =>
      s(i) match {
        // CTE / WINDOW definition: `x AS (`
        case Ident(x, _) if s.kw(i + 1, "as") && s.punct(i + 2, "(") => Some(x)
        // subquery alias: `) [AS] x`
        case Punct(")", _) =>
          if (s.kw(i + 1, "as")) s.ident(i + 2)
          else s.ident(i + 1, postTableKeywords)
        // table alias: FROM/JOIN t[.u] [AS] x
        case Ident(_, _) if (s.kw(i, "from") || s.kw(i, "join")) &&
            s.ident(i + 1).isDefined =>
          // consume the dotted table chain
          var j = i + 1
          while (s.punct(j + 1, ".") && s.ident(j + 2).isDefined) j += 2
          if (s.kw(j + 1, "as")) s.ident(j + 2)
          else if (s.punct(j + 2, "(")) None // `FROM f(...)` is a call
          else s.ident(j + 1, postTableKeywords)
        case _ => None
      }
    }.map(_.toLowerCase(Locale.ROOT)).toSet
  }

  /** A `FINAL` token following a JOIN-side table ref — a shape
    * [[splitFinal]] (top-level FROM only) never matches, which previously
    * let the token fall through as a Spark alias and read un-merged rows
    * silently (ADVICE r15 #1). Returns the joined table's name so the
    * caller can error loudly.
    */
  def findJoinSideFinal(sql: String): Option[String] = {
    val s = Scan(sql)
    s.indices.collectFirst {
      // JOIN t FINAL
      case i if s.kw(i, "final") && s.kw(i - 2, "join") &&
          s.ident(i - 1).isDefined && !s.punct(i + 1, ".") =>
        s.ident(i - 1).get
      // JOIN db.t FINAL
      case i if s.kw(i, "final") && s.kw(i - 4, "join") &&
          s.ident(i - 3).isDefined && s.punct(i - 2, ".") && s.ident(i - 1).isDefined =>
        s"${s.ident(i - 3).get}.${s.ident(i - 1).get}"
    }
  }

  /** One side of an ASOF JOIN condition: `alias.col` or a bare `col`. */
  final case class ARef(qual: Option[String], col: String)

  /** The pieces of `FROM l [AS] [la] [LEFT] ASOF JOIN r [AS] [ra] ON
    * c AND …` — ClickHouse's as-of join syntax (the dialect door onto
    * [[graft.operators.AsofJoin]]). `fromStart`/`onEnd` delimit the whole
    * join fragment in the original text (relation name through the last ON
    * conjunct) for splicing.
    */
  final case class AsofParts(leftTable: String, leftAlias: String,
                             rightTable: String, rightAlias: String,
                             leftOuter: Boolean,
                             conds: Seq[(ARef, String, ARef)],
                             fromStart: Int, onEnd: Int)

  /** Locate an `[LEFT] ASOF JOIN`. None = the query has none;
    * Some(Left(why)) = present but an unsupported shape — the CALLER must
    * error loudly (a fallen-through ASOF token would silently parse as a
    * Spark table alias and return wrong rows); Some(Right(parts)) = parse.
    * v1 scope: plain (optionally db-qualified) table refs on both sides,
    * ON-conjunction of equalities plus ONE `>=`/`>` inequality.
    */
  def splitAsofJoin(sql: String): Option[Either[String, AsofParts]] = {
    val s = Scan(sql)
    val a = s.seek(0)(i => s.kw(i, "asof") && s.kw(i + 1, "join"))
    Option.when(a < s.length) {
      val leftOuter = s.kw(a - 1, "left")
      val relEnd = if (leftOuter) a - 1 else a // exclusive
      // back-scan the left relation: FROM name[.name] [[AS] alias];
      // returns (table, alias, startTokenIdx)
      def parseRelBack(end: Int): Either[String, (String, String, Int)] = {
        val kws = Set("from", "as", "join", "on")
        // candidates, longest first
        // FROM db . t AS al | FROM db . t al | FROM t AS al | FROM t al
        // FROM db . t       | FROM t
        (for {
          al <- s.ident(end - 1, kws) if s.kw(end - 2, "as")
          t <- s.ident(end - 3, kws) if s.punct(end - 4, ".")
          d <- s.ident(end - 5, kws) if s.kw(end - 6, "from")
        } yield (s"$d.$t", al, end - 5)).orElse(for {
          al <- s.ident(end - 1, kws)
          t <- s.ident(end - 2, kws) if s.punct(end - 3, ".")
          d <- s.ident(end - 4, kws) if s.kw(end - 5, "from")
        } yield (s"$d.$t", al, end - 4)).orElse(for {
          al <- s.ident(end - 1, kws) if s.kw(end - 2, "as")
          t <- s.ident(end - 3, kws) if s.kw(end - 4, "from")
        } yield (t, al, end - 3)).orElse(for {
          t <- s.ident(end - 1, kws) if s.punct(end - 2, ".")
          d <- s.ident(end - 3, kws) if s.kw(end - 4, "from")
        } yield (s"$d.$t", t, end - 3)).orElse(for {
          al <- s.ident(end - 1, kws)
          t <- s.ident(end - 2, kws) if s.kw(end - 3, "from")
        } yield (t, al, end - 2)).orElse(for {
          t <- s.ident(end - 1, kws) if s.kw(end - 2, "from")
        } yield (t, t, end - 1)).toRight(
          "the left side must be a plain table ref directly after FROM " +
            "(subqueries/comma-joins before ASOF JOIN are not supported)")
      }
      // forward-scan the right relation from after JOIN; returns
      // (table, alias, idx of ON/USING keyword, which)
      def parseRelFwd(start: Int):
          Either[String, (String, String, Int, String)] = {
        val notName = Set("on", "as", "using")
        s.ident(start, notName).toRight("expected a table name after ASOF JOIN")
          .flatMap { n1 =>
            val (tbl, next) = s.ident(start + 2, notName) match {
              case Some(n2) if s.punct(start + 1, ".") => (s"$n1.$n2", start + 3)
              case _ => (n1, start + 1)
            }
            val short = if (tbl.contains(".")) tbl.split("\\.")(1) else tbl
            val (alias, onIdx) =
              (s.ident(next, notName), s.ident(next + 1, notName)) match {
                case (_, Some(al)) if s.kw(next, "as") => (al, next + 2)
                case (Some(al), _) => (al, next + 1)
                case _ => (short, next)
              }
            if (s.kw(onIdx, "on")) Right((tbl, alias, onIdx, "on"))
            else if (s.kw(onIdx, "using")) Right((tbl, alias, onIdx, "using"))
            else Left("expected ON or USING after the ASOF JOIN relation")
          }
      }
      // ON conjuncts: ref op ref (AND …)*
      def parseConds(start: Int):
          Either[String, (Seq[(ARef, String, ARef)], Int)] = {
        var i = start
        def ref(): Either[String, ARef] = s.ident(i) match {
          case Some(q) if s.punct(i + 1, ".") && s.ident(i + 2).isDefined =>
            i += 3; Right(ARef(Some(q), s.ident(i - 1).get))
          case Some(c) => i += 1; Right(ARef(None, c))
          case None => Left(s"expected a column ref in the ON clause")
        }
        def op(): Either[String, String] = s.lift(i) match {
          case Some(Punct(o, _)) if Seq("=", ">", "<").contains(o) =>
            i += 1
            if (o != "=" && s.punct(i, "=")) { i += 1; Right(o + "=") }
            else Right(o)
          case other => Left(s"expected =, >=, >, <= or < in the ON " +
            s"clause, got ${other.map(_.text)}")
        }
        val conds = ArrayBuffer.empty[(ARef, String, ARef)]
        var err: Option[String] = None
        var go = true
        while (go && err.isEmpty) {
          (for { l <- ref(); o <- op(); r <- ref() } yield (l, o, r)) match {
            case Right(c) =>
              conds += c
              if (s.kw(i, "and")) i += 1 else go = false
            case Left(e) => err = Some(e)
          }
        }
        // the fragment must end at a clause boundary — anything else
        // (parenthesized conds, OR, functions) is out of v1 scope
        val boundary = i >= s.length || s.punct(i, ";") || s.kwIn(i, Set(
          "where", "group", "order", "limit", "having", "settings", "format",
          "union", "window", "qualify"))
        err.toLeft(()).flatMap { _ =>
          if (!boundary) Left("only a conjunction of plain column " +
            "comparisons is supported in ASOF JOIN ON")
          else Right((conds.toSeq, s.pos(i)))
        }
      }
      // CH's USING form: the LAST column is the inequality (>=), the
      // rest are equalities — both sides share the names, so conds
      // emit pre-qualified refs
      def parseUsing(start: Int, la: String, ra: String):
          Either[String, (Seq[(ARef, String, ARef)], Int)] = {
        val parens = s.punct(start, "(")
        var i = if (parens) start + 1 else start
        val cols = ArrayBuffer.empty[String]
        var go = true
        while (go) s.ident(i) match {
          case Some(c) =>
            cols += c; i += 1
            if (s.punct(i, ",")) i += 1 else go = false
          case None => go = false
        }
        if (parens && !s.punct(i, ")")) Left("unclosed USING list")
        else {
          if (parens) i += 1
          if (cols.length < 2)
            Left("ASOF JOIN USING needs at least one equality column " +
              "plus the time column (the LAST one)")
          else {
            val conds = cols.init.map(c =>
              (ARef(Some(la), c), "=", ARef(Some(ra), c))).toSeq :+
              ((ARef(Some(la), cols.last), ">=", ARef(Some(ra), cols.last)))
            Right((conds, s.pos(i)))
          }
        }
      }
      for {
        l <- parseRelBack(relEnd)
        r <- parseRelFwd(a + 2)
        c <- if (r._4 == "using") parseUsing(r._3 + 1, l._2, r._2)
             else parseConds(r._3 + 1)
      } yield AsofParts(l._1, l._2, r._1, r._2, leftOuter, c._1,
        s.pos(l._3), c._2)
    }
  }

  /** Rewrite every `qual.` qualifier token pair to `to.` — used after an
    * ASOF JOIN splice collapses two relations into one view, whose single
    * alias must serve both sides' qualified references.
    */
  def renameQualifier(segment: String, from: String, to: String): String = {
    val s = Scan(segment)
    splice(segment, s.indices.collect {
      // a qualifier, not itself a field access tail
      case i if s.kw(i, from) && !s.quoted(i) && s.punct(i + 1, ".") &&
          !s.punct(i - 1, ".") =>
        (s.pos(i), s.pos(i) + s(i).text.length, to)
    })
  }
}
