package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Graph sources (P1/P2): the Spark engine consumes a resource graph as
  * a stream of JSON node/edge envelopes. The in-process collector
  * (reference: collect_plugins.py:30-68) and the remote graph-search
  * source (reference: remote_graph.py:38-91) both reduce to "a location
  * holding JSONL envelopes plus an optional search filter":
  *
  *  - in-process → the collector dumps its graph as JSONL and we read it
  *    (schema-on-read, one pass, splittable at scale);
  *  - remote → resoto-core evaluates the search server-side and streams
  *    envelopes; the dump of that stream is the same JSONL. The search
  *    expression is the source's filter pushdown: the subset we support
  *    locally is applied as a Catalyst filter + bounded traversal so
  *    results match the server-side evaluation (reference default:
  *    `is(graph_root) -[2:]->`, remote_graph.py:62).
  *
  * Supported grammar (a growing subset of the resoto search grammar the
  * reference forwards server-side):
  *
  * {{{
  * query    := ("aggregate" "(" groups ":" funcs ")" ":")? search
  * groups   := path ("as" alias)? ("," path ("as" alias)?)*
  * funcs    := fn "(" (number | path) ")" ("as" alias)?
  *             ("," fn "(" ... )*        fn := sum|min|max|avg|count
  * search   := chain ("sort" path ("asc"|"desc")?)* ("limit" N)?
  * chain    := bool (traversal bool?)*
  * bool     := conj ("or" conj)*
  * conj     := unary ("and" unary)*
  * unary    := "not" unary | "(" bool ")" | is | prop
  * is       := "is(" kind ")"
  * prop     := path op value        (value bare word or "quoted")
  *           | path "in" "[" value ("," value)* "]"
  * traversal:= -[m:n]-> | -[m:]-> | --> | <-[m:n]- | <-[m:]- | <--
  * }}}
  *
  * `-->`/`<--` are depth exactly 1. A trailing traversal with no
  * following step matches every node at that distance. Quoted values
  * always compare as strings; bare numeric literals compare numerically.
  * `sort`/`limit` order and truncate the FINAL step's matches (the
  * resoto result modifiers); ties broken by node id for determinism.
  */
object GraphSource {

  /** Read a JSONL envelope dump; nodes and edges share one stream
    * (reference: batch_stream.py:70-78 chains them). */
  def readEnvelopes(spark: SparkSession, path: String): DataFrame =
    spark.read.json(path)

  def nodes(envelopes: DataFrame): DataFrame =
    envelopes.filter(col("type") === "node")

  def edges(envelopes: DataFrame): DataFrame =
    envelopes.filter(col("type") === "edge")

  /** One `<path> <op> <value>` predicate over `reported.*` properties.
    * `quoted` records whether the literal was written `"..."` — a
    * quoted value always compares as a string (an unquoted numeric
    * would otherwise cast the column and make e.g. '042' match '42'). */
  final case class PropFilter(path: String, op: String, value: String,
      quoted: Boolean = false)

  // ---- Predicate AST --------------------------------------------------
  sealed trait Pred
  final case class IsKind(kind: String) extends Pred
  final case class PropPred(f: PropFilter) extends Pred
  final case class AndPred(ps: Seq[Pred]) extends Pred
  final case class OrPred(ps: Seq[Pred]) extends Pred
  final case class NotPred(p: Pred) extends Pred
  /** Matches every node — the implicit step after a trailing traversal. */
  case object TruePred extends Pred

  /** One traversal hop: nodes whose shortest distance from the current
    * step's matches lies in [min, max] (max open = capped by the
    * evaluator); `reverse` walks edges target→source (`<--`). */
  final case class Traversal(min: Int, max: Option[Int],
      reverse: Boolean = false)

  /** One `sort <path> [asc|desc]` result modifier. */
  final case class SortKey(path: String, ascending: Boolean = true)

  /** One aggregate group term: `path [as alias]`. */
  final case class AggTerm(path: String, alias: Option[String] = None)

  /** One aggregate function: `fn(arg) [as alias]`; `literal` marks a
    * numeric arg (`sum(1)`) vs a property path (`sum(cores)`). */
  final case class AggFunc(fn: String, arg: String, literal: Boolean,
      alias: Option[String] = None)

  /** A full search query: optional aggregate head + the chain
    * (the resoto `aggregate(...): <search>` form). */
  final case class SearchQuery(
      aggregate: Option[(Seq[AggTerm], Seq[AggFunc])],
      chain: SearchChain)

  /** A parsed chain: n step predicates joined by n-1 traversals, plus
    * optional result modifiers applied to the final step's matches. */
  final case class SearchChain(steps: Seq[Pred], hops: Seq[Traversal],
      sort: Seq[SortKey] = Seq.empty, limit: Option[Int] = None) {
    require(steps.length == hops.length + 1, "steps must bracket hops")
  }

  // ---- Tokenizer for the full chain grammar ---------------------------
  private sealed trait Tok
  private final case class TravTok(min: Int, max: Option[Int],
      reverse: Boolean) extends Tok
  private final case class IsTok(kind: String) extends Tok
  private final case class WordTok(w: String) extends Tok
  private final case class QuotedTok(v: String) extends Tok
  private final case class OpTok(op: String) extends Tok
  private case object LpTok extends Tok
  private case object RpTok extends Tok
  private case object LbTok extends Tok
  private case object RbTok extends Tok
  private case object CommaTok extends Tok
  private case object ColonTok extends Tok
  private case object AndTok extends Tok
  private case object OrTok extends Tok
  private case object NotTok extends Tok

  // Ordered alternation: arrows before words so '-' never tokenizes as
  // part of an identifier (hyphenated VALUES must be quoted).
  private val TokRe = ("""(?:(-\[(\d+):(\d*)\]->)""" +
    """|(<-\[(\d+):(\d*)\]-)""" +
    """|(-->)|(<--)""" +
    """|(is\(([\w.]+)\))""" +
    """|(\()|(\))""" +
    """|(==|!=|>=|<=|=~|>|<)""" +
    """|("[^"]*")""" +
    """|([\w./*+]+)""" +
    """|(\[)|(\])|(,)|(:))""").r

  private def tokenize(s: String): Option[List[Tok]] = {
    val b = List.newBuilder[Tok]
    var rest = s.trim
    while (rest.nonEmpty) {
      TokRe.findPrefixMatchOf(rest) match {
        case None => return None
        case Some(m) =>
          val tok =
            if (m.group(1) != null)
              TravTok(m.group(2).toInt,
                Option(m.group(3)).filter(_.nonEmpty).map(_.toInt),
                reverse = false)
            else if (m.group(4) != null)
              TravTok(m.group(5).toInt,
                Option(m.group(6)).filter(_.nonEmpty).map(_.toInt),
                reverse = true)
            else if (m.group(7) != null) TravTok(1, Some(1), reverse = false)
            else if (m.group(8) != null) TravTok(1, Some(1), reverse = true)
            else if (m.group(9) != null) IsTok(m.group(10))
            else if (m.group(11) != null) LpTok
            else if (m.group(12) != null) RpTok
            else if (m.group(13) != null) OpTok(m.group(13))
            else if (m.group(14) != null)
              QuotedTok(m.group(14).stripPrefix("\"").stripSuffix("\""))
            else if (m.group(15) != null) m.group(15) match {
              case "and" => AndTok
              case "or" => OrTok
              case "not" => NotTok
              case w => WordTok(w)
            }
            else if (m.group(16) != null) LbTok
            else if (m.group(17) != null) RbTok
            else if (m.group(18) != null) CommaTok
            else ColonTok
          b += tok
          rest = rest.substring(m.end).trim
      }
    }
    Some(b.result())
  }

  // ---- Recursive-descent parser ---------------------------------------
  private final class Parser(ts: Vector[Tok]) {
    private var i = 0
    private def peek: Option[Tok] = if (i < ts.length) Some(ts(i)) else None
    private def advance(): Tok = { val t = ts(i); i += 1; t }
    private def atEnd: Boolean = i >= ts.length

    def query(): Option[SearchQuery] = peek match {
      case Some(WordTok("aggregate")) =>
        advance()
        if (!peek.contains(LpTok)) return None
        advance()
        for {
          groups <- aggTerms()
          _ <- if (peek.contains(ColonTok)) { advance(); Some(()) } else None
          funcs <- aggFuncs()
          _ <- if (peek.contains(RpTok)) { advance(); Some(()) } else None
          _ <- if (peek.contains(ColonTok)) { advance(); Some(()) } else None
          c <- chain()
        } yield SearchQuery(Some((groups, funcs)), c)
      case _ => chain().map(SearchQuery(None, _))
    }

    private def alias(): Option[String] = peek match {
      case Some(WordTok("as")) =>
        advance()
        peek match {
          case Some(WordTok(a)) => advance(); Some(a)
          case _ => None // consumed 'as' without a name: caller fails on ':'
        }
      case _ => None
    }

    private def aggTerms(): Option[Seq[AggTerm]] = {
      var acc = Vector.empty[AggTerm]
      var done = false
      while (!done) {
        peek match {
          case Some(WordTok(p)) if p != "as" =>
            advance()
            acc :+= AggTerm(p, alias())
            if (peek.contains(CommaTok)) advance() else done = true
          case _ => return None
        }
      }
      Some(acc)
    }

    private val aggFns = Set("sum", "min", "max", "avg", "count")

    private def aggFuncs(): Option[Seq[AggFunc]] = {
      var acc = Vector.empty[AggFunc]
      var done = false
      while (!done) {
        peek match {
          case Some(WordTok(fn)) if aggFns.contains(fn) =>
            advance()
            if (!peek.contains(LpTok)) return None
            advance()
            val arg = peek match {
              case Some(WordTok(a)) => advance(); Some(a)
              case _ => None
            }
            if (arg.isEmpty || !peek.contains(RpTok)) return None
            advance()
            val a = arg.get
            val literal = a.nonEmpty && a.forall(c => c.isDigit || c == '.')
            acc :+= AggFunc(fn, a, literal, alias())
            if (peek.contains(CommaTok)) advance() else done = true
          case _ => return None
        }
      }
      Some(acc)
    }

    def chain(): Option[SearchChain] = bool().flatMap { first =>
      var steps = Vector(first)
      var hops = Vector.empty[Traversal]
      var failed = false
      while (!failed && peek.exists(_.isInstanceOf[TravTok])) {
        val tr = advance().asInstanceOf[TravTok]
        hops :+= Traversal(tr.min, tr.max, tr.reverse)
        if (atEnd || peek.exists(isModifierStart)) steps :+= TruePred
        else bool() match {
          case Some(p) => steps :+= p
          case None => failed = true
        }
      }
      if (failed) None
      else modifiers().flatMap { case (sort, limit) =>
        if (atEnd) Some(SearchChain(steps, hops, sort, limit)) else None
      }
    }

    private def isModifierStart(t: Tok): Boolean = t match {
      case WordTok("sort") | WordTok("limit") => true
      case _ => false
    }

    /** Trailing result modifiers: zero or more `sort path [asc|desc]`,
      * then an optional `limit N`. */
    private def modifiers(): Option[(Seq[SortKey], Option[Int])] = {
      var sorts = Vector.empty[SortKey]
      var failed = false
      while (!failed && peek.contains(WordTok("sort"))) {
        advance()
        peek match {
          case Some(WordTok(path)) if path != "limit" && path != "sort" =>
            advance()
            val asc = peek match {
              case Some(WordTok("asc")) => advance(); true
              case Some(WordTok("desc")) => advance(); false
              case _ => true
            }
            sorts :+= SortKey(path, asc)
          case _ => failed = true
        }
      }
      if (failed) return None
      peek match {
        case Some(WordTok("limit")) =>
          advance()
          peek match {
            case Some(WordTok(n)) if n.forall(_.isDigit) && n.nonEmpty =>
              advance(); Some((sorts, Some(n.toInt)))
            case _ => None
          }
        case _ => Some((sorts, None))
      }
    }

    private def bool(): Option[Pred] = many(conj _, OrTok, OrPred.apply)

    private def conj(): Option[Pred] = many(unary _, AndTok, AndPred.apply)

    private def many(sub: () => Option[Pred], sep: Tok,
        wrap: Seq[Pred] => Pred): Option[Pred] =
      sub().flatMap { first =>
        var acc = Vector(first)
        var failed = false
        while (!failed && peek.contains(sep)) {
          advance()
          sub() match {
            case Some(p) => acc :+= p
            case None => failed = true
          }
        }
        if (failed) None
        else Some(if (acc.length == 1) acc.head else wrap(acc))
      }

    private def unary(): Option[Pred] = peek match {
      case Some(NotTok) => advance(); unary().map(NotPred.apply)
      case Some(LpTok) =>
        advance()
        bool().flatMap { p =>
          if (peek.contains(RpTok)) { advance(); Some(p) } else None
        }
      case Some(IsTok(k)) => advance(); Some(IsKind(k))
      case Some(WordTok(path)) =>
        advance()
        peek match {
          case Some(OpTok(op)) =>
            advance()
            value().map { case (v, quoted) =>
              PropPred(PropFilter(path, op, v, quoted))
            }
          // `path in [v1, v2, ...]` desugars to an equality or-chain —
          // per-element quoted/numeric semantics for free, zero
          // evaluator surface.
          case Some(WordTok("in")) =>
            advance()
            if (!peek.contains(LbTok)) return None
            advance()
            var vs = Vector.empty[(String, Boolean)]
            var failed = false
            var done = false
            while (!failed && !done) {
              value() match {
                case Some(v) =>
                  vs :+= v
                  peek match {
                    case Some(CommaTok) => advance()
                    case Some(RbTok) => advance(); done = true
                    case _ => failed = true
                  }
                case None => failed = true
              }
            }
            if (failed || vs.isEmpty) None
            else {
              val eqs = vs.map { case (v, q) =>
                PropPred(PropFilter(path, "==", v, q)): Pred
              }
              Some(if (eqs.length == 1) eqs.head else OrPred(eqs))
            }
          case _ => None
        }
      case _ => None
    }

    private def value(): Option[(String, Boolean)] = peek match {
      case Some(WordTok(v)) => advance(); Some((v, false))
      case Some(QuotedTok(v)) => advance(); Some((v, true))
      case _ => None
    }
  }

  /** Parse a full chained search expression; None on any syntax error
    * — including numeric literals beyond Int range, which would
    * otherwise escape the tokenizer/limit parse as a raw
    * NumberFormatException. */
  def parseChain(expr: String): Option[SearchChain] =
    scala.util.Try(tokenize(expr).flatMap(ts => new Parser(ts.toVector).chain()))
      .toOption.flatten

  /** Parse a full query — optional `aggregate(groups: funcs):` head +
    * chain; None on any syntax error. */
  def parseQuery(expr: String): Option[SearchQuery] =
    scala.util.Try(tokenize(expr).flatMap(ts => new Parser(ts.toVector).query()))
      .toOption.flatten

  // ---- Evaluation ------------------------------------------------------

  private def filterColumn(f: PropFilter): Column = {
    val c = col(s"reported.${f.path}")
    // Quoted literals ALWAYS compare as strings; bare numeric literals
    // compare numerically (Catalyst inserts the cast on the column
    // side). Without the quoted flag, name == "42" would coerce the
    // string column to a number and '042' would match '42'.
    val v: Column =
      if (f.quoted) lit(f.value)
      else scala.util.Try(f.value.toLong).toOption
        .map(l => lit(l): Column)
        .orElse(scala.util.Try(f.value.toDouble).toOption
          .map(d => lit(d): Column))
        .getOrElse(lit(f.value))
    f.op match {
      case "==" => c === v
      case "!=" => c =!= v
      case ">" => c > v
      case ">=" => c >= v
      case "<" => c < v
      case "<=" => c <= v
      case "=~" => c.rlike(f.value)
    }
  }

  private def predColumn(p: Pred): Column = p match {
    case IsKind(k) => col("reported.kind") === k
    case PropPred(f) => filterColumn(f)
    case AndPred(ps) => ps.map(predColumn).reduce(_ && _)
    case OrPred(ps) => ps.map(predColumn).reduce(_ || _)
    case NotPred(inner) => !predColumn(inner)
    case TruePred => lit(true)
  }

  /** Every node within `maxDepth` hops of `roots` (a single `node`
    * column) along the `src` → `dst` edges `edges` builds, with its
    * shortest distance (`node`, `depth`; a root is at depth 0) — a
    * bounded iterative frontier join with per-level distinct, so the
    * frontier is bounded by the node count on converging/cyclic graphs.
    * `edges` is called once per level: after the first join the
    * frontier carries the edge relation's lineage, and reusing one
    * DataFrame instance on both sides trips Spark's ambiguous-self-join
    * detection. */
  private[graft] def reach(roots: DataFrame, maxDepth: Int,
      edges: () => DataFrame): DataFrame = {
    var frontier = roots.select(col("node"), lit(0).as("depth"))
    var reached = frontier
    for (depth <- 1 to maxDepth) {
      val e = edges()
      frontier = frontier.join(e, frontier("node") === e("src"))
        .select(e("dst").as("node"), lit(depth).as("depth"))
        .distinct()
      reached = reached.unionByName(frontier)
    }
    reached.groupBy("node").agg(min(col("depth")).as("depth"))
  }

  /** Evaluate a parsed chain against node envelopes: filter nodes by
    * the first step, then for each (traversal, step) pair take the
    * nodes within the hop's shortest-distance window of the current
    * matches and filter them by the next step's predicate. `depthCap`
    * bounds open-ended (`-[n:]->`) traversals. */
  def evaluateChain(envelopes: DataFrame, chain: SearchChain,
      depthCap: Int = 8): DataFrame = {
    val n = nodes(envelopes)
    var current = n.filter(predColumn(chain.steps.head))
    chain.hops.zip(chain.steps.tail).foreach { case (hop, step) =>
      // The nodes whose shortest distance along default edges lies in
      // [hop.min, effective max].
      val effMax = hop.max.getOrElse(depthCap)
      require(hop.min <= effMax,
        s"traversal min ${hop.min} exceeds max depth $effMax")
      val (src, dst) = if (hop.reverse) ("to", "from") else ("from", "to")
      val within = reach(current.select(col("id").as("node")), effMax,
        () => edges(envelopes).select(col(src).as("src"), col(dst).as("dst")))
        .filter(col("depth") >= hop.min).select("node")
      current = n.join(within, n("id") === within("node")).drop("node")
        .filter(predColumn(step))
    }
    // Result modifiers: sort keys over reported.* with an id tie-break
    // (deterministic truncation), then limit — which Catalyst compiles
    // to TakeOrderedAndProject (per-partition top-N) when both present.
    if (chain.sort.nonEmpty || chain.limit.isDefined) {
      val keys = chain.sort.map(k =>
        if (k.ascending) col(s"reported.${k.path}").asc
        else col(s"reported.${k.path}").desc) :+ col("id").asc
      current = current.orderBy(keys: _*)
    }
    chain.limit.fold(current)(current.limit)
  }

  /** Evaluate a full query: the chain selects nodes; an aggregate head
    * groups them by its terms (over `reported.*`, with `kind`
    * resolving to the discriminator) and applies its functions — the
    * resoto `aggregate(...)` search mode as a plain partial+final
    * hash aggregation. Default aliases: the group path's last segment;
    * `<fn>_<arg>` for functions. */
  def evaluateQuery(envelopes: DataFrame, q: SearchQuery,
      depthCap: Int = 8): DataFrame = {
    val base = evaluateChain(envelopes, q.chain, depthCap)
    q.aggregate match {
      case None => base
      case Some((groups, funcs)) =>
        val groupCols = groups.map { g =>
          col(s"reported.${g.path}")
            .as(g.alias.getOrElse(g.path.split('.').last))
        }
        val aggCols = funcs.map { f =>
          val arg: Column =
            if (f.literal)
              if (f.arg.contains('.')) lit(f.arg.toDouble) else lit(f.arg.toLong)
            else col(s"reported.${f.arg}")
          val c = f.fn match {
            case "sum" => sum(arg)
            case "min" => min(arg)
            case "max" => max(arg)
            case "avg" => avg(arg)
            case "count" => count(arg)
          }
          c.as(f.alias.getOrElse(s"${f.fn}_${f.arg.replace('.', '_')}"))
        }
        base.groupBy(groupCols: _*).agg(aggCols.head, aggCols.tail: _*)
    }
  }
}
