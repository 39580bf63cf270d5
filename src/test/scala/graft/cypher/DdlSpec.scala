package graft.cypher

import java.nio.file.Files
import scala.jdk.CollectionConverters._
import graft.SparkTestBase
import graft.api.CypherSession
import graft.graph.GraphCatalog
import org.scalatest.funsuite.AnyFunSuite

/** DDL surface: constraints (cypher_ddl.sql:240-362 semantics) and the
  * graphmeta edge-statistics matrix (graphmeta.sql).
  */
class DdlSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  private def fresh(): CypherSession = {
    val root = Files.createTempDirectory("graft_ddl").toString
    new CypherSession(spark, new GraphCatalog(spark, root))
  }

  test("statement DDL: CREATE/DROP GRAPH with AUTHORIZATION (gram.y:16677-16724)") {
    val s = fresh()
    s.cypher("CREATE GRAPH sg1 AUTHORIZATION alice")
    assert(s.catalog.graphExists("sg1"))
    assert(s.catalog.graphOwner("sg1").contains("alice"))
    assert(s.graphPath == "sg1")
    s.cypher("CREATE GRAPH IF NOT EXISTS sg1 AUTHORIZATION bob") // skip
    assert(s.catalog.graphOwner("sg1").contains("alice"))
    intercept[Exception] { s.cypher("CREATE GRAPH sg1") }
    s.cypher("CREATE GRAPH IF NOT EXISTS sg2")
    assert(s.catalog.graphOwner("sg2").isEmpty)
    s.cypher("DROP GRAPH sg2 CASCADE")
    assert(!s.catalog.graphExists("sg2"))
    intercept[Exception] { s.cypher("DROP GRAPH sg2") }
    s.cypher("DROP GRAPH IF EXISTS sg2")
  }

  test("statement DDL: UNLOGGED / DISABLE INDEX / INHERITS modifiers (cypher_ddl.out:125-170)") {
    val s = fresh()
    s.cypher("CREATE GRAPH mods")
    // CREATE UNLOGGED VLABEL unlog → relpersistence 'u'
    s.cypher("CREATE UNLOGGED VLABEL unlog")
    assert(s.catalog.label("mods", "unlog").get.persistence == 'u')
    // CREATE VLABEL vdi DISABLE INDEX → pkey recorded INVALID
    s.cypher("CREATE VLABEL vdi DISABLE INDEX")
    assert(s.catalog.label("mods", "vdi").get.indexDisabled)
    // modifiers compose with IF NOT EXISTS + INHERITS
    s.cypher("CREATE VLABEL parent")
    s.cypher("CREATE UNLOGGED ELABEL IF NOT EXISTS eun DISABLE INDEX")
    val eun = s.catalog.label("mods", "eun").get
    assert(eun.kind == 'e' && eun.persistence == 'u' && eun.indexDisabled)
    s.cypher("CREATE VLABEL child INHERITS (parent)")
    assert(s.catalog.label("mods", "child").get.parents == Seq("parent"))
    // wrong-kind parent errors match the reference (cypher_ddl.out:121-124)
    val m1 = intercept[Exception](
      s.cypher("CREATE ELABEL we INHERITS (parent)")).getMessage
    assert(m1.contains("""parent graph label "parent" is not edge label."""))
    // ALTER ... SET UNLOGGED/LOGGED + ALTER ... DISABLE INDEX
    // (cypher_ddl.out:439,505) incl. IF EXISTS skip semantics
    s.cypher("ALTER VLABEL parent SET UNLOGGED")
    assert(s.catalog.label("mods", "parent").get.persistence == 'u')
    s.cypher("ALTER VLABEL parent SET LOGGED")
    assert(s.catalog.label("mods", "parent").get.persistence == 'p')
    s.cypher("ALTER VLABEL parent DISABLE INDEX")
    assert(s.catalog.label("mods", "parent").get.indexDisabled)
    s.cypher("ALTER VLABEL IF EXISTS unknown SET LOGGED") // skipping
    intercept[Exception] { s.cypher("ALTER VLABEL unknown SET LOGGED") }
    // modifiers surface in the catalog view (pg_class join analog)
    val row = s.catalog.labelsDf("mods").where("labname = 'unlog'")
      .select("persistence", "index_disabled").collect().head
    assert(row.getString(0) == "u" && !row.getBoolean(1))
    // a written label round-trips through the modifier metadata
    s.cypher("CREATE (:unlog {x: 1})")
    assert(s.cypher("MATCH (n:unlog) RETURN n").count() == 1)
  }

  test("SET/SHOW graph_path + ALTER GRAPH RENAME/OWNER statements (cypher_ddl.out:12-68)") {
    val s = fresh()
    assert(s.cypher("SHOW graph_path").collect().head.getString(0) == "")
    s.cypher("CREATE GRAPH gp1")
    assert(s.cypher("SHOW graph_path").collect().head.getString(0) == "gp1")
    s.cypher("CREATE GRAPH gp2")
    s.cypher("SET graph_path = gp2")
    assert(s.graphPath == "gp2")
    // nonexistent graph + multi-entry diagnostics (cypher_ddl.out:64-68)
    val m1 = intercept[Exception](s.cypher("SET graph_path = nope")).getMessage
    assert(m1.contains("""invalid value for parameter "graph_path": "nope""""))
    val m2 = intercept[Exception](
      s.cypher("SET graph_path = gp1, gp2")).getMessage
    assert(m2.contains("SET graph_path takes only one argument"))
    // quoted form works; half-quoted is a syntax error
    s.cypher("SET graph_path = 'gp1'")
    assert(s.graphPath == "gp1")
    intercept[Exception] { s.cypher("SET graph_path = 'gp2") }
    // PG's SET accepts TO as well as = (gram.y VariableSetStmt)
    s.cypher("SET graph_path TO gp2")
    assert(s.graphPath == "gp2")
    s.cypher("SET graph_path TO 'gp1'")
    assert(s.graphPath == "gp1")
    intercept[Exception] { s.cypher("ALTER GRAPH nope OWNER TO x") }
    s.cypher("SET graph_path = gp2") // back for the rename assertions
    // ALTER GRAPH statements (cypher_ddl.out:41-58)
    s.cypher("ALTER GRAPH gp2 RENAME TO gpr")
    assert(s.graphPath == "gpr" && s.catalog.graphExists("gpr"))
    s.cypher("ALTER GRAPH gpr OWNER TO temp")
    assert(s.catalog.graphOwner("gpr").contains("temp"))
    assert(s.catalog.graphsDf().where("graphname = 'gpr'")
      .select("owner").collect().head.getString(0) == "temp")
    // ALTER VLABEL ... RENAME TO statement
    s.cypher("CREATE VLABEL rv")
    s.cypher("CREATE (:rv {k: 1})")
    s.cypher("ALTER VLABEL rv RENAME TO rv2")
    assert(s.cypher("MATCH (n:rv2) RETURN n").count() == 1)
    intercept[Exception] { s.cypher("ALTER ELABEL rv2 RENAME TO rv3") }
  }

  test("CREATE PROPERTY INDEX re-clusters label files on the key (propertyindex.sql)") {
    val s = fresh()
    s.cypher("CREATE GRAPH pidx")
    s.cypher("CREATE VLABEL piv")
    // two appends with INTERLEAVED age ranges: every file spans the
    // whole range, so before the index a key predicate can prune
    // nothing at file level
    s.cypher("UNWIND range(0, 198) AS i WITH i WHERE i % 2 = 0 CREATE (:piv {age: i})")
    s.cypher("UNWIND range(1, 199) AS i WITH i WHERE i % 2 = 1 CREATE (:piv {age: i})")
    val dir = java.nio.file.Paths.get(s.catalog.root, "pidx", "piv")
    def fileRanges(): Seq[(Double, Double)] = {
      val st = java.nio.file.Files.list(dir)
      try st.iterator().asScala.toSeq
        .filter(_.toString.endsWith(".parquet")).flatMap { f =>
          val r = spark.read.parquet(f.toString)
            .selectExpr("min(cast(__pn_age as double))",
              "max(cast(__pn_age as double))").collect().head
          // append batches can leave empty shuffle part files behind
          if (r.isNullAt(0)) None else Some((r.getDouble(0), r.getDouble(1)))
        }.sortBy(_._1)
      finally st.close()
    }
    val before = fileRanges()
    assert(before.size >= 2)
    assert(before.forall { case (lo, hi) => lo <= 1 && hi >= 198 }) // all overlap
    s.cypher("CREATE PROPERTY INDEX ON piv (age)")
    assert(s.catalog.label("pidx", "piv").get.indexes
      .exists(ix => ix.name == "piv_age_idx" && ix.keys == Seq("age")))
    // re-clustered: file key ranges are now DISJOINT — min-max stats
    // prune key predicates at file level (the btree's pruning role)
    val after = fileRanges()
    assert(after.size >= 2)
    after.sliding(2).foreach { case Seq((_, hi1), (lo2, _)) =>
      assert(hi1 < lo2, s"file ranges overlap after reindex: $after")
    case _ => () }
    // data intact + the key predicate reaches the scan as a pushed
    // filter on the shred column
    val q = s.cypher("MATCH (n:piv) WHERE n.age = 150 RETURN count(*) AS c")
    assert(q.collect().head.getString(0) == "1")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("__pn_age"), plan)
    // name collision + IF NOT EXISTS; DROP
    intercept[Exception] { s.cypher("CREATE PROPERTY INDEX ON piv (age)") }
    s.cypher("CREATE PROPERTY INDEX IF NOT EXISTS piv_age_idx ON piv (age)")
    s.cypher("DROP PROPERTY INDEX piv_age_idx")
    assert(s.catalog.label("pidx", "piv").get.indexes.isEmpty)
    intercept[Exception] { s.cypher("DROP PROPERTY INDEX piv_age_idx") }
    s.cypher("DROP PROPERTY INDEX IF EXISTS piv_age_idx")
    // modifier/expression forms parse as recorded no-ops — and the
    // option tail must NOT leak into the recorded keys
    s.cypher("CREATE PROPERTY INDEX CONCURRENTLY ON piv USING hash (age) WITH (fillfactor = 80)")
    s.cypher("CREATE PROPERTY INDEX ON piv ((age + 1))")
    val ixs = s.catalog.label("pidx", "piv").get.indexes
    assert(ixs.size == 2)
    assert(ixs.head.keys == Seq("age"), ixs.head.keys)
    assert(ixs(1).keys == Seq("(age + 1)"), ixs(1).keys)
  }

  test("UNIQUE PROPERTY INDEX enforces uniqueness (propertyindex.sql piv4/piv5)") {
    val s = fresh()
    s.cypher("CREATE GRAPH puq")
    s.cypher("CREATE VLABEL piv4")
    s.cypher("CREATE UNIQUE PROPERTY INDEX ON piv4 (id)")
    s.cypher("CREATE (:piv4 {id: 100})")
    intercept[Exception] { s.cypher("CREATE (:piv4 {id: 100})") }
    s.cypher("CREATE (:piv4 {id: 101})")
    assert(s.cypher("MATCH (n:piv4) RETURN n").count() == 2)
    // dropping the index drops its uniqueness enforcement
    s.cypher("DROP PROPERTY INDEX piv4_id_idx")
    s.cypher("CREATE (:piv4 {id: 100})")
    assert(s.cypher("MATCH (n:piv4) RETURN n").count() == 3)
    // a UNIQUE index over EXISTING duplicates fails validation (the
    // reference's "could not create unique index") and records nothing
    val m = intercept[Exception](
      s.cypher("CREATE UNIQUE PROPERTY INDEX ON piv4 (id)")).getMessage
    assert(m.contains("could not create unique index"), m)
    assert(s.catalog.label("puq", "piv4").get.indexes.isEmpty)
    assert(!s.catalog.constraints("puq").exists(_.name.contains("piv4_id_idx")))
    // validation sees the inheritance SUBTREE (enforcement does too):
    // duplicates split across parent and child still fail
    s.cypher("CREATE VLABEL up")
    s.cypher("CREATE VLABEL uc INHERITS (up)")
    s.cypher("CREATE (:up {id: 7})")
    s.cypher("CREATE (:uc {id: 7})")
    val m2 = intercept[Exception](
      s.cypher("CREATE UNIQUE PROPERTY INDEX ON up (id)")).getMessage
    assert(m2.contains("could not create unique index"), m2)
  }

  test("unique constraint rejects duplicates, within batch and across") {
    val s = fresh()
    s.createGraph("cg")
    s.createVLabel("u")
    s.catalog.addConstraint("cg", "u", "u_id_unique", "unique", "id")
    s.cypher("CREATE (:u {id: 1})")
    intercept[Exception] { s.cypher("CREATE (:u {id: 1})") }
    intercept[Exception] { s.cypher("UNWIND [9, 9] AS x CREATE (:u {id: x})") }
    s.cypher("CREATE (:u {id: 2})")
    assert(s.cypher("MATCH (n:u) RETURN n").count() == 2)
  }

  test("constraints kept in a separate _constraints.json are still read and enforced") {
    import graft.jsonb._
    val root = Files.createTempDirectory("graft_ddl").toString
    val s = new CypherSession(spark, new GraphCatalog(spark, root))
    s.createGraph("lg")
    s.createVLabel("u")
    s.cypher("CREATE (:u {id: 1})")
    // the layout of a graph written before constraints moved into
    // _graph.json: no constraints key there, one array file beside it
    val meta = java.nio.file.Paths.get(root, "lg", "_graph.json")
    val doc = Jsonb.parse(Files.readString(meta)).asInstanceOf[JObj]
    Files.writeString(meta,
      JObj(doc.fields.filterNot(_._1 == "constraints")).render)
    Files.writeString(meta.resolveSibling("_constraints.json"), JArr(Vector(
      Jsonb.mkObj(Seq("label" -> JStr("u"), "name" -> JStr("u_id_unique"),
        "kind" -> JStr("unique"), "expr" -> JStr("id"))))).render)
    assert(s.catalog.constraints("lg").map(_.name) == Seq("u_id_unique"))
    intercept[Exception] { s.cypher("CREATE (:u {id: 1})") }
    // the next meta write records them in _graph.json itself
    s.createVLabel("w")
    Files.delete(meta.resolveSibling("_constraints.json"))
    assert(s.catalog.constraints("lg").map(_.name) == Seq("u_id_unique"))
    assert(s.cypher("MATCH (n:u) RETURN n").count() == 1)
  }

  test("label and graph RENAME keep data, ids and inheritance (graphcmds RenameLabel/RenameGraph)") {
    val s = fresh()
    s.createGraph("rn")
    s.createVLabel("person")
    s.createVLabel("vip", parents = Seq("person"))
    s.cypher("CREATE (:person {name: 'p'}), (:vip {name: 'v'})")
    val idsBefore = s.cypher("MATCH (n:person) RETURN id(n) AS i ORDER BY i")
      .collect().map(_.getString(0)).toSeq
    // rename the parent: children's parent lists follow; subtree scans
    // and stored graphids are untouched
    s.renameLabel("person", "human")
    val after = s.cypher("MATCH (n:human) RETURN id(n) AS i ORDER BY i")
      .collect().map(_.getString(0)).toSeq
    assert(after == idsBefore) // same two vertices, same packed ids
    assert(s.catalog.label("rn", "vip").get.parents == Seq("human"))
    intercept[Exception] { s.cypher("MATCH (n:person) RETURN n").count() }
    // graph rename: session path follows, data intact
    s.renameGraph("rn", "rn2")
    assert(s.graphPath == "rn2")
    assert(s.cypher("MATCH (n:human) RETURN n").count() == 2)
    assert(!s.catalog.graphExists("rn"))
  }

  test("racing CREATE UNIQUE PROPERTY INDEX IF NOT EXISTS: loser no-ops — r12 review") {
    // the enforcement constraint installs under the label write lock,
    // so the loser of an identical concurrent create re-checks the
    // committed index and silently no-ops instead of erroring on the
    // winner's constraint name
    val s = fresh()
    s.createGraph("race")
    s.createVLabel("rc")
    s.cypher("CREATE (:rc {k: 1}), (:rc {k: 2})")
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val attempts = (1 to 4).map(_ => Future {
      s.catalog.createPropertyIndex("race", "rc", None, Seq("k"),
        unique = true, ifNotExists = true)
    })
    attempts.foreach(f => Await.result(f, Duration.Inf)) // none may throw
    val lm = s.catalog.label("race", "rc").get
    assert(lm.indexes.count(_.name == "rc_k_idx") == 1, lm.indexes)
    assert(s.catalog.constraints("race").count(_.name == "rc_k_idx_uc") == 1)
  }

  test("CREATE after RENAME continues the id sequence (no locid reuse) — r12 review") {
    // the label's id sequence is keyed by NAME in the meta; a rename
    // that leaves it under the old key makes the next CREATE restart
    // at locid 1 and silently reissue existing graphids
    val s = fresh()
    s.createGraph("rnseq")
    s.createVLabel("a")
    s.cypher("CREATE (:a {k: 1}), (:a {k: 2}), (:a {k: 3})")
    s.renameLabel("a", "b")
    s.cypher("CREATE (:b {k: 4}), (:b {k: 5})")
    val ids = s.cypher("MATCH (n:b) RETURN id(n) AS i")
      .collect().map(_.getString(0)).toSeq
    assert(ids.length == 5)
    assert(ids.distinct.length == 5, s"duplicate graphids after rename: $ids")
  }

  test("catalog views: labelsDf/graphsDf list the namespace (\\dG analog)") {
    val s = fresh()
    s.createGraph("cat")
    s.createVLabel("a"); s.createVLabel("b", parents = Seq("a"))
    s.createELabel("e")
    val ls = s.catalog.labelsDf("cat")
      .collect().map(r => (r.getString(0), r.getString(2))).toSet
    assert(ls.contains(("a", "v")) && ls.contains(("b", "v")) &&
      ls.contains(("e", "e")))
    val parents = s.catalog.labelsDf("cat").where("labname = 'b'")
      .select("parents").collect().head.getSeq[String](0)
    assert(parents == Seq("a"))
    assert(s.catalog.graphsDf().collect().map(_.getString(0)).contains("cat"))
  }

  test("check constraint validates expressions over new rows") {
    val s = fresh()
    s.createGraph("cg2")
    s.createVLabel("p")
    s.catalog.addConstraint("cg2", "p", "p_age_pos", "check", "age > 0 AND age < 150")
    s.cypher("CREATE (:p {age: 42})")
    intercept[Exception] { s.cypher("CREATE (:p {age: -1})") }
    intercept[Exception] { s.cypher("CREATE (:p {age: 200})") }
    assert(s.cypher("MATCH (n:p) RETURN n").count() == 1)
  }

  test("check constraint with list predicate/comprehension (lambda shadowing)") {
    val s = fresh()
    s.createGraph("cg2b")
    s.createVLabel("tagged")
    // `all(x IN tags WHERE x <> '')`: the bare `tags` rewrites to the
    // new row's property, but the lambda variable `x` must stay bound
    // to the lambda (r10 ADVICE: pre-fix this threw "variable not
    // defined" on EVERY write to the label)
    s.catalog.addConstraint("cg2b", "tagged", "t_nonempty", "check",
      "all(x IN tags WHERE x <> '')")
    s.cypher("CREATE (:tagged {tags: ['a', 'b']})")
    intercept[Exception] { s.cypher("CREATE (:tagged {tags: ['a', '']})") }
    // absent property -> NULL check result -> passes (PG CHECK 3VL)
    s.cypher("CREATE (:tagged {other: 1})")
    assert(s.cypher("MATCH (n:tagged) RETURN n").count() == 2)
    // comprehension form: size([x IN tags WHERE x = bad]) = 0 — `bad`
    // is a property ref, `x` is the lambda var
    s.createVLabel("tagged2")
    s.catalog.addConstraint("cg2b", "tagged2", "t2_noban", "check",
      "size([x IN tags WHERE x = banned]) = 0")
    s.cypher("CREATE (:tagged2 {tags: ['a', 'b'], banned: 'z'})")
    intercept[Exception] {
      s.cypher("CREATE (:tagged2 {tags: ['a', 'z'], banned: 'z'})") }
    assert(s.cypher("MATCH (n:tagged2) RETURN n").count() == 1)
  }

  test("unique constraint applies to inheritance subtree") {
    val s = fresh()
    s.createGraph("cg3")
    s.createVLabel("base")
    s.createVLabel("child", parents = Seq("base"))
    s.catalog.addConstraint("cg3", "base", "b_k", "unique", "k")
    s.cypher("CREATE (:base {k: 1})")
    intercept[Exception] { s.cypher("CREATE (:child {k: 1})") }
  }

  // ---- CREATE CONSTRAINT ... ASSERT statement syntax (gram.y:16917-
  // 16960; semantics from cypher_ddl.out:620-850) ---------------------

  test("CONSTRAINT statement: nested-path unique (cypher_ddl regv1)") {
    val s = fresh()
    s.createGraph("c1"); s.createVLabel("regv1")
    s.cypher("CREATE CONSTRAINT ON regv1 ASSERT a.b IS UNIQUE")
    s.cypher("CREATE (:regv1 {a: {b: 'agens', c: 'graph'}})")
    intercept[Exception] { s.cypher("CREATE (:regv1 {a: {b: 'agens', c: 'graph'}})") }
    intercept[Exception] { s.cypher("CREATE (:regv1 {a: {b: 'agens'}})") }
    s.cypher("CREATE (:regv1 {a: {b: 'c'}})")
    assert(s.cypher("MATCH (n:regv1) RETURN n").count() == 2)
  }

  test("CONSTRAINT statement: expression unique on an edge label (rege1)") {
    val s = fresh()
    s.createGraph("c2"); s.createELabel("rege1")
    s.cypher("CREATE CONSTRAINT ON rege1 ASSERT c + d IS UNIQUE")
    s.cypher("CREATE ()-[:rege1 {c: 'agens', d: 'graph'}]->()")
    intercept[Exception] { s.cypher("CREATE ()-[:rege1 {c: 'agens', d: 'graph'}]->()") }
    s.cypher("CREATE ()-[:rege1 {c: 'agens', d: 'rdb'}]->()")
    // 'agen' + 'sgraph' collides with 'agens' + 'graph' (cypher_ddl.out:661)
    intercept[Exception] { s.cypher("CREATE ()-[:rege1 {c: 'agen', d: 'sgraph'}]->()") }
  }

  test("CONSTRAINT statement: NOT NULL shapes incl. multi-key and nested path (regv2/regv3/regv7)") {
    val s = fresh()
    s.createGraph("c3"); s.createVLabel("regv2")
    s.cypher("CREATE CONSTRAINT ON regv2 ASSERT name IS NOT NULL")
    s.cypher("CREATE (:regv2 {name: 'agens'})")
    intercept[Exception] { s.cypher("CREATE (:regv2 {age: 0})") }
    s.cypher("CREATE (:regv2 {age: 0, name: 'graph'})")

    s.createVLabel("regv3")
    s.cypher("CREATE CONSTRAINT ON regv3 ASSERT name.first IS NOT NULL AND name.last IS NOT NULL")
    s.cypher("CREATE (:regv3 {name: {first: 'agens', last: 'graph'}})")
    intercept[Exception] { s.cypher("CREATE (:regv3 {name: {first: 'agens'}})") }
    intercept[Exception] { s.cypher("CREATE (:regv3 {name: {last: 'graph'}})") }
    intercept[Exception] { s.cypher("CREATE (:regv3 {name: {first: NULL, last: NULL}})") }

    s.createVLabel("regv7")
    s.cypher("CREATE CONSTRAINT ON regv7 ASSERT a.b[0].c IS NOT NULL")
    s.cypher("CREATE (:regv7 {a: {b: [{c: 'd'}, {c: 'e'}]}})")
    s.cypher("CREATE (:regv7 {a: {b: [{c: 'd'}, {e: 'e'}]}})")
    intercept[Exception] { s.cypher("CREATE (:regv7 {a: {b: [{d: 'd'}, {e: 'e'}]}})") }
  }

  test("CONSTRAINT statement: IN-list and != checks; NULL check passes (rege2/rege3)") {
    val s = fresh()
    s.createGraph("c4"); s.createELabel("rege3")
    s.cypher("CREATE CONSTRAINT ON rege3 ASSERT type IN ['friend', 'lover', 'parent']")
    s.cypher("CREATE ()-[:rege3 {type: 'friend', name: 'agens'}]->()")
    intercept[Exception] { s.cypher("CREATE ()-[:rege3 {type: 'love', name: 'graph'}]->()") }
    intercept[Exception] { s.cypher("CREATE ()-[:rege3 {type: 'parents', name: 'AGENS'}]->()") }
    s.cypher("CREATE ()-[:rege3 {type: 'lover', name: 'GRAPH'}]->()")

    s.createELabel("rege2")
    s.cypher("CREATE CONSTRAINT ON rege2 ASSERT a != b")
    s.cypher("CREATE ()-[:rege2 {a: 'agens', b: 'graph'}]->()")
    intercept[Exception] { s.cypher("CREATE ()-[:rege2 {a: 'agens', b: 'agens'}]->()") }
    s.cypher("CREATE ()-[:rege2 {a: 'agens', b: 'AGENS'}]->()")
    // b absent -> a != b is NULL -> PG CHECK passes (cypher_ddl.out:729)
    s.cypher("CREATE ()-[:rege2 {a: 'agens', d: 'graph'}]->()")
  }

  test("CONSTRAINT statement: function-wrapped unique + named + DROP (regv5/rege4)") {
    val s = fresh()
    s.createGraph("c5"); s.createVLabel("regv5")
    s.cypher("CREATE CONSTRAINT ON regv5 ASSERT toLower(trim(id)) IS UNIQUE")
    s.cypher("CREATE (:regv5 {id: 'agens'})")
    intercept[Exception] { s.cypher("CREATE (:regv5 {id: ' agens'})") }
    intercept[Exception] { s.cypher("CREATE (:regv5 {id: 'AGENS'})") }
    s.cypher("CREATE (:regv5 {id: 'GRAPH'})")
    intercept[Exception] { s.cypher("CREATE (:regv5 {id: ' graph '})") }

    s.createELabel("rege4")
    s.cypher("CREATE CONSTRAINT rege4_name_isnull_constraint ON rege4 ASSERT id IS NULL")
    s.cypher("CREATE ()-[:rege4 {id: NULL, name: 'agens'}]->()")
    intercept[Exception] { s.cypher("CREATE ()-[:rege4 {id: 10, name: 'agens'}]->()") }
    s.cypher("CREATE ()-[:rege4 {name: 'graph'}]->()")
    // DROP by bare label (single constraint), then the named drop fails
    s.cypher("DROP CONSTRAINT ON rege4")
    intercept[Exception] { s.cypher("DROP CONSTRAINT rege4_name_isnull_constraint ON rege4") }
    s.cypher("CREATE ()-[:rege4 {id: 10, name: 'agens'}]->()") // no longer constrained
  }

  test("ALTER VLABEL [NO] INHERIT reparents post hoc (cypher_ddl.sql:163-168)") {
    val s = fresh()
    s.createGraph("ai")
    s.createVLabel("v0")
    s.createVLabel("v00", parents = Seq("v0"))
    s.createVLabel("v1", parents = Seq("v00"))
    s.cypher("CREATE (:v1 {k: 1})")
    assert(s.cypher("MATCH (n:v0) RETURN n").count() == 1)
    s.cypher("ALTER VLABEL v1 NO INHERIT v00")
    assert(s.cypher("MATCH (n:v0) RETURN n").count() == 0)
    assert(s.cypher("MATCH (n:v1) RETURN n").count() == 1) // data untouched
    s.cypher("ALTER VLABEL v1 INHERIT v00")
    assert(s.cypher("MATCH (n:v0) RETURN n").count() == 1)
    // duplicate INHERIT / NO INHERIT of a non-parent / base label
    intercept[Exception] { s.cypher("ALTER VLABEL v1 INHERIT v00") }
    intercept[Exception] { s.cypher("ALTER VLABEL v0 NO INHERIT v00") }
    intercept[Exception] { s.cypher("ALTER VLABEL v1 INHERIT ag_vertex") }
    intercept[Exception] { s.cypher("ALTER VLABEL v1 NO INHERIT ag_vertex") }
    // cycle: v0 INHERIT v1 while v1 is (transitively) under v0
    intercept[Exception] { s.cypher("ALTER VLABEL v0 INHERIT v1") }
  }

  test("graphmeta edge-count matrix tracks writes") {
    val s = fresh()
    s.createGraph("gm")
    s.createVLabel("human"); s.createVLabel("dog")
    s.createELabel("know"); s.createELabel("likes")
    s.cypher("CREATE (:human {name: 'a'})-[:know]->(:human {name: 'b'})")
    s.cypher("MATCH (a:human {name: 'a'}) CREATE (a)-[:likes]->(:dog {name: 'r'})")
    val m1 = s.catalog.graphmeta("gm").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getLong(3))).toSet
    assert(m1 == Set(
      ("human", "know", "human", 1L),
      ("human", "likes", "dog", 1L)))
    s.cypher("MATCH (:human)-[e:know]->(:human) DELETE e")
    val m2 = s.catalog.graphmeta("gm").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getLong(3))).toSet
    assert(m2 == Set(("human", "likes", "dog", 1L)))
  }

  // graphmeta.sql:20-50 — the matrix across repeated multi-edge
  // chains and the DROP ELABEL / DROP VLABEL CASCADE transitions
  // (rows of a dropped edge label vanish; rows touching a dropped
  // vertex label vanish from both endpoints)
  test("graphmeta matrix over chains, DROP ELABEL/VLABEL CASCADE (graphmeta.sql)") {
    val s = fresh()
    s.createGraph("gm2")
    s.createVLabel("human"); s.createVLabel("dog")
    Seq("know", "follow", "hate", "love").foreach(s.createELabel(_))
    def matrix(): Set[(String, String, String, Long)] =
      s.catalog.graphmeta("gm2").collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getLong(3))).toSet
    (1 to 3).foreach { _ =>
      s.cypher("CREATE (:human)-[:know]->(:human)-[:follow]->(:human)" +
        "-[:hate]->(:human)-[:love]->(:human)")
    }
    s.cypher("CREATE (:dog)-[:follow]->(:human)")
    assert(matrix() == Set(
      ("human", "know", "human", 3L),
      ("human", "follow", "human", 3L),
      ("human", "hate", "human", 3L),
      ("human", "love", "human", 3L),
      ("dog", "follow", "human", 1L)))
    s.cypher("DROP ELABEL hate CASCADE")
    assert(matrix() == Set(
      ("human", "know", "human", 3L),
      ("human", "follow", "human", 3L),
      ("human", "love", "human", 3L),
      ("dog", "follow", "human", 1L)))
    s.cypher("DROP VLABEL human CASCADE")
    assert(matrix() == Set.empty)

    // error paths: RESTRICT refuses children, kind mismatch, base
    // label, missing name (IF EXISTS downgrades to a no-op)
    s.createVLabel("animal"); s.createVLabel("cat", parents = Seq("animal"))
    val e1 = intercept[Exception](s.cypher("DROP VLABEL animal"))
    assert(e1.getMessage.contains("children"))
    s.cypher("DROP VLABEL animal CASCADE") // drops cat first
    assert(s.catalog.label("gm2", "cat").isEmpty)
    val e2 = intercept[Exception](s.cypher("DROP VLABEL follow"))
    assert(e2.getMessage.contains("not a vlabel"))
    intercept[Exception](s.cypher("DROP VLABEL ag_vertex"))
    intercept[Exception](s.cypher("DROP ELABEL no_such_label"))
    s.cypher("DROP ELABEL IF EXISTS no_such_label") // no-op

    // diamond inheritance: c reachable from a via two paths — the
    // cascade must not double-drop it
    s.createVLabel("da")
    s.createVLabel("db", parents = Seq("da"))
    s.createVLabel("dc", parents = Seq("da", "db"))
    s.cypher("DROP VLABEL da CASCADE")
    assert(s.catalog.label("gm2", "da").isEmpty)
    assert(s.catalog.label("gm2", "db").isEmpty)
    assert(s.catalog.label("gm2", "dc").isEmpty)
  }
}
