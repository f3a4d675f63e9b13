package graft

import graft.sources.{GraphSource, ModelJson}
import graft.model.Property

/** Graph-source + model-export reader tests (P1/P2/P3). */
class SourcesSpec extends SparkSpecBase {

  private lazy val envelopes = {
    import spark.implicits._
    // root -> cloud -> account: the depth-shape of the reference's
    // remote-graph fixture (tests/conftest.py:67-85).
    val lines = Seq(
      """{"type":"node","id":"root","reported":{"kind":"graph_root","id":"root"}}""",
      """{"type":"node","id":"c1","reported":{"kind":"cloud","id":"c1"}}""",
      """{"type":"node","id":"a1","reported":{"kind":"account","id":"a1"}}""",
      """{"type":"node","id":"a2","reported":{"kind":"account","id":"a2"}}""",
      """{"type":"edge","from":"root","to":"c1"}""",
      """{"type":"edge","from":"c1","to":"a1"}""",
      """{"type":"edge","from":"c1","to":"a2"}""")
    spark.read.json(spark.createDataset(lines))
  }

  test("search parser handles the reference default") {
    import GraphSource._
    assert(parseChain("is(graph_root) -[2:]->") ==
      Some(SearchChain(Seq(IsKind("graph_root"), TruePred),
        Seq(Traversal(2, None)))))
    assert(parseChain("is(aws.ec2_instance)") ==
      Some(SearchChain(Seq(IsKind("aws.ec2_instance")), Seq.empty)))
    assert(parseChain("is(graph_root) -[2:") == None)
  }

  test("search parser handles bounded traversal and property filters") {
    import GraphSource._
    assert(parseChain("is(graph_root) -[2:5]->") ==
      Some(SearchChain(Seq(IsKind("graph_root"), TruePred),
        Seq(Traversal(2, Some(5))))))
    assert(parseChain(
      """is(cloud) and name == "aws" and cores > 2 -[1:3]->""") ==
      Some(SearchChain(
        Seq(AndPred(Seq(IsKind("cloud"),
          PropPred(PropFilter("name", "==", "aws", quoted = true)),
          PropPred(PropFilter("cores", ">", "2")))), TruePred),
        Seq(Traversal(1, Some(3))))))
    // A malformed filter tail must fail the whole parse, not be dropped.
    assert(parseChain("is(cloud) garbage") == None)
  }

  test("chain parser handles or/not/parens and chained traversals") {
    import GraphSource._
    assert(parseChain("""is(a) and (name == "x" or name == "y")""") ==
      Some(SearchChain(Seq(AndPred(Seq(IsKind("a"),
        OrPred(Seq(
          PropPred(PropFilter("name", "==", "x", quoted = true)),
          PropPred(PropFilter("name", "==", "y", quoted = true))))))),
        Seq.empty)))
    assert(parseChain("is(a) and not cores > 2 --> is(b)") ==
      Some(SearchChain(
        Seq(AndPred(Seq(IsKind("a"),
          NotPred(PropPred(PropFilter("cores", ">", "2"))))), IsKind("b")),
        Seq(Traversal(1, Some(1))))))
    // Reverse + trailing open traversal; trailing hop gets TruePred.
    assert(parseChain("is(a) <-[1:2]-") ==
      Some(SearchChain(Seq(IsKind("a"), TruePred),
        Seq(Traversal(1, Some(2), reverse = true)))))
    // The classic forms parse identically through the chain parser.
    assert(parseChain("is(graph_root) -[2:]->") ==
      Some(SearchChain(Seq(IsKind("graph_root"), TruePred),
        Seq(Traversal(2, None)))))
    // Syntax errors fail the parse, never partially match.
    assert(parseChain("is(a) and or name == x") == None)
    assert(parseChain("is(a) garbage ==") == None)
    assert(parseChain("(is(a) or is(b)") == None)
  }

  test("evaluateChain: interleaved steps, or/not, reverse traversal") {
    import GraphSource._
    // Step-interleaved chain: root --> cloud.
    val c = evaluateChain(envelopes,
      parseChain("is(graph_root) --> is(cloud)").get)
    assert(c.select("id").collect().map(_.getString(0)).toSeq == Seq("c1"))
    // not filters at the final step.
    val a = evaluateChain(envelopes,
      parseChain("""is(cloud) --> is(account) and not id == "a1"""").get)
    assert(a.select("id").collect().map(_.getString(0)).toSeq == Seq("a2"))
    // or across kinds.
    val o = evaluateChain(envelopes,
      parseChain("is(cloud) or is(graph_root)").get)
    assert(o.select("id").collect().map(_.getString(0)).sorted.toSeq ==
      Seq("c1", "root"))
    // Reverse hop: the cloud's parent.
    val r = evaluateChain(envelopes, parseChain("is(cloud) <--").get)
    assert(r.select("id").collect().map(_.getString(0)).toSeq == Seq("root"))
  }

  test("in-list membership desugars to an equality or-chain") {
    import GraphSource._
    assert(parseChain("""name in [x, "y z", 42]""") ==
      Some(SearchChain(Seq(OrPred(Seq(
        PropPred(PropFilter("name", "==", "x")),
        PropPred(PropFilter("name", "==", "y z", quoted = true)),
        PropPred(PropFilter("name", "==", "42"))))), Seq.empty)))
    // Single element: no Or wrapper.
    assert(parseChain("name in [x]") ==
      Some(SearchChain(Seq(PropPred(PropFilter("name", "==", "x"))),
        Seq.empty)))
    assert(parseChain("name in []") == None) // empty list is an error
    assert(parseChain("name in [a, ]") == None)
    assert(parseChain("name in [a b]") == None)
    assert(parseChain("name in a, b") == None)

    val out = evaluateChain(envelopes,
      parseChain("""is(account) and id in ["a1", "zzz"]""").get)
    assert(out.select("id").collect().map(_.getString(0)).toSeq == Seq("a1"))
  }

  test("aggregate head groups the chain's matches") {
    import GraphSource._
    assert(parseQuery("aggregate(kind: sum(1) as n): is(a)") ==
      Some(SearchQuery(Some((Seq(AggTerm("kind")),
        Seq(AggFunc("sum", "1", literal = true, Some("n"))))),
        SearchChain(Seq(IsKind("a")), Seq.empty))))
    // No head: plain chain query.
    assert(parseQuery("is(a)") ==
      Some(SearchQuery(None, SearchChain(Seq(IsKind("a")), Seq.empty))))
    // Malformed heads fail outright.
    assert(parseQuery("aggregate(kind): is(a)") == None)
    assert(parseQuery("aggregate(kind: frob(1)): is(a)") == None)
    assert(parseQuery("aggregate(kind: sum(1)) is(a)") == None)

    val out = evaluateQuery(envelopes, parseQuery(
      "aggregate(kind: sum(1) as n, count(id) as ids): is(graph_root) -[1:]->")
      .get, depthCap = 4)
    val rows = out.orderBy("kind").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(rows == Seq(("account", 2L, 2L), ("cloud", 1L, 1L)))
  }

  test("sort/limit result modifiers parse and apply to the final step") {
    import GraphSource._
    assert(parseChain("is(account) sort id desc limit 1") ==
      Some(SearchChain(Seq(IsKind("account")), Seq.empty,
        Seq(SortKey("id", ascending = false)), Some(1))))
    // Modifiers after a trailing traversal (TruePred final step).
    assert(parseChain("is(graph_root) -[1:]-> sort id limit 2") ==
      Some(SearchChain(Seq(IsKind("graph_root"), TruePred),
        Seq(Traversal(1, None)), Seq(SortKey("id")), Some(2))))
    assert(parseChain("is(a) limit x") == None) // non-numeric limit
    assert(parseChain("is(a) sort") == None) // missing sort key

    val top = evaluateChain(envelopes,
      parseChain("is(account) sort id desc limit 1").get)
    assert(top.select("id").collect().map(_.getString(0)).toSeq == Seq("a2"))
    val deep = evaluateChain(envelopes,
      parseChain("is(graph_root) -[1:]-> sort id limit 2").get, depthCap = 4)
    assert(deep.select("id").collect().map(_.getString(0)).toSeq ==
      Seq("a1", "a2"))
  }

  test("quoted literals compare as strings, never numerically") {
    import spark.implicits._
    val env = spark.read.json(spark.createDataset(Seq(
      """{"type":"node","id":"n1","reported":{"kind":"k","id":"n1","serial":"042"}}""",
      """{"type":"node","id":"n2","reported":{"kind":"k","id":"n2","serial":"42"}}""")))
    import GraphSource._
    // Quoted: string equality — '042' must NOT match '42'.
    val q = evaluateChain(env, parseChain("""is(k) and serial == "42"""").get)
    assert(q.select("id").collect().map(_.getString(0)).toSeq == Seq("n2"))
    // Unquoted numeric: column coerced, both match.
    val u = evaluateChain(env, parseChain("is(k) and serial == 42").get)
    assert(u.select("id").collect().map(_.getString(0)).sorted.toSeq ==
      Seq("n1", "n2"))
  }

  test("is(kind) filters nodes") {
    val out = GraphSource.evaluateChain(envelopes,
      GraphSource.parseChain("is(account)").get)
    assert(out.select("id").collect().map(_.getString(0)).sorted
      .toSeq == Seq("a1", "a2"))
  }

  test("is(graph_root) -[2:]-> returns depth>=2 descendants") {
    val out = GraphSource.evaluateChain(envelopes,
      GraphSource.parseChain("is(graph_root) -[2:]->").get, depthCap = 4)
    assert(out.select("id").collect().map(_.getString(0)).sorted
      .toSeq == Seq("a1", "a2"))
  }

  test("bounded -[1:1]-> prunes the deeper level") {
    val out = GraphSource.evaluateChain(envelopes,
      GraphSource.parseChain("is(graph_root) -[1:1]->").get)
    assert(out.select("id").collect().map(_.getString(0)).toSeq ==
      Seq("c1"))
  }

  test("property filter restricts the root set") {
    val out = GraphSource.evaluateChain(envelopes,
      GraphSource.parseChain("""is(account) and id == "a1"""").get)
    assert(out.select("id").collect().map(_.getString(0)).toSeq ==
      Seq("a1"))
  }

  test("source round-trip preserves node and edge counts") {
    // The remote-graph contract: re-materializing a dumped graph loses
    // nothing (reference: tests/remote_graph_test.py:11-25).
    assert(GraphSource.nodes(envelopes).count() == 4)
    assert(GraphSource.edges(envelopes).count() == 3)
  }

  test("dump transport: search narrows nodes, edges pass through") {
    import graft.sources.JsonlDumpTransport
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_transport")
    val lines = Seq(
      """{"type":"node","id":"root","reported":{"kind":"graph_root","id":"root"}}""",
      """{"type":"node","id":"c1","reported":{"kind":"cloud","id":"c1"}}""",
      """{"type":"node","id":"a1","reported":{"kind":"account","id":"a1"}}""",
      """{"type":"edge","from":"root","to":"c1"}""",
      """{"type":"edge","from":"c1","to":"a1"}""")
    spark.createDataset(lines).toDF("value").coalesce(1)
      .write.mode("overwrite").text(dir.toString)
    val transport = new JsonlDumpTransport(dir.toString)
    // No search: the full stream.
    assert(transport.envelopes(spark, None).count() == 5)
    // Search: selected nodes + all edges (a downstream sync still keys
    // and links them).
    val filtered = transport.envelopes(spark,
      Some("is(graph_root) -[1:]->"))
    assert(GraphSource.nodes(filtered).select("id").collect()
      .map(_.getString(0)).sorted.toSeq == Seq("a1", "c1"))
    assert(GraphSource.edges(filtered).count() == 2)
    intercept[RuntimeException] {
      transport.envelopes(spark, Some("not a search ((("))
    }
  }

  test("model export JSON round-trips into the ADT") {
    val m = ModelJson.fromJson(
      """[
        |{"fqn":"resource","aggregate_root":true,
        | "properties":[{"name":"id","kind":"string"},
        |   {"name":"name","kind":"string","metadata":{"len":34}},
        |   {"name":"age","kind":"duration","synthetic":true}]},
        |{"fqn":"some_instance","bases":["resource"],
        | "properties":[{"name":"cores","kind":"int32"}],
        | "successor_kinds":{"default":["some_volume"]}},
        |{"fqn":"color","runtime_kind":"string"}
        |]""".stripMargin)
    assert(m("some_instance").bases == Seq("resource"))
    assert(m("some_instance").successorKinds("default") == Seq("some_volume"))
    assert(m("resource").properties(1) ==
      Property("name", "string", synthetic = false, len = Some(34)))
    assert(m("resource").properties(2).synthetic)
    assert(m("color").runtimeKind == Some("string"))
  }
}
