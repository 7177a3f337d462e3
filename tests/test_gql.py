"""GQL parser + lowering tests against the reference's golden outputs
(FIXTURES.md F1-F3; graph/query/src/executor.rs:742-927)."""

import pytest


def _engine(g):
    from dd_graphdb_spark.plans.lower import GQLEngine

    return GQLEngine(g)


def test_property_filter_strict_gt(people_graph):
    # executor.rs:742-790 → {Alice, Charlie}, NOT Bob (strict >)
    df = _engine(people_graph).execute("MATCH (v:Person) WHERE v.age > 25 RETURN v.name, v.age")
    rows = {(r[0], r[1]) for r in df.collect()}
    assert rows == {("Alice", 30), ("Charlie", 35)}


def test_edge_traversal_directed(people_graph):
    # executor.rs:793-842 → {Bob, Charlie}; Alice never a target
    df = _engine(people_graph).execute("MATCH (a)-[e:friend]->(b) RETURN b.name")
    assert {r[0] for r in df.collect()} == {"Bob", "Charlie"}


def test_multi_condition_and(spark):
    from dd_graphdb_spark.graph import PropertyGraph

    v = spark.createDataFrame(
        [
            (1, "Person", "Alice", 30, "Engineering"),
            (2, "Person", "Bob", 25, "Engineering"),
            (3, "Person", "Charlie", 35, "Marketing"),
            (4, "Person", "Diana", 28, "Engineering"),
        ],
        "id long, label string, name string, age long, department string",
    )
    e = spark.createDataFrame([], "src long, dst long, label string")
    g = PropertyGraph(v, e)
    # executor.rs:874-927 → {Alice, Diana}
    df = _engine(g).execute(
        "MATCH (v:Person) WHERE v.age > 25 AND v.department = 'Engineering' RETURN v.name"
    )
    assert {r[0] for r in df.collect()} == {"Alice", "Diana"}


def test_inline_props(people_graph):
    df = _engine(people_graph).execute("MATCH (v:Person {name: 'Bob'}) RETURN v.age")
    assert [r[0] for r in df.collect()] == [25]


def test_undirected_edge(people_graph):
    # -- matches both directions (executor.rs:322-326)
    df = _engine(people_graph).execute("MATCH (a {name: 'Bob'})-[e:friend]-(b) RETURN b.name")
    assert {r[0] for r in df.collect()} == {"Alice", "Charlie"}


def test_multi_hop_walk(people_graph):
    df = _engine(people_graph).execute(
        "MATCH (a)-[e1:friend]->(b)-[e2:friend]->(c) RETURN a.name, c.name"
    )
    assert [tuple(r) for r in df.collect()] == [("Alice", "Charlie")]


def test_parse_error():
    from dd_graphdb_spark.plans.gql import parse_gql

    with pytest.raises(Exception):
        parse_gql("MATCH (v:Person WHERE")


def test_lt_negative_literal_no_whitespace():
    # 'a.age<-5' must parse as '<' with literal -5, not the edge arrow
    from dd_graphdb_spark.plans.gql import Compare, parse_gql

    stmt = parse_gql("MATCH (a:Person) WHERE a.age<-5 RETURN a.name")
    cond = stmt.where
    assert isinstance(cond, Compare)
    assert cond.op == "<" and cond.value == -5


def test_repeated_variable_closes_cycle(people_graph):
    # (a)-[]->(b)-[]->(a) binds `a` once and enforces equality on the
    # cycle edge (second occurrence is a predicate, not a second join).
    # people_graph: Alice->Bob->Charlie, Alice->Charlie (no cycles) → empty
    df = _engine(people_graph).execute(
        "MATCH (a)-[e1:friend]->(b)-[e2:friend]->(a) RETURN a.name, b.name"
    )
    assert df.count() == 0


def test_repeated_variable_finds_cycle(spark):
    from dd_graphdb_spark.graph import PropertyGraph

    v = spark.createDataFrame(
        [(1, "Person", "A"), (2, "Person", "B"), (3, "Person", "C")],
        "id long, label string, name string",
    )
    e = spark.createDataFrame(
        [(1, 2, "friend"), (2, 1, "friend"), (2, 3, "friend")],
        "src long, dst long, label string",
    )
    df = _engine(PropertyGraph(v, e)).execute(
        "MATCH (a)-[e1:friend]->(b)-[e2:friend]->(a) RETURN a.name, b.name"
    )
    assert {tuple(r) for r in df.collect()} == {("A", "B"), ("B", "A")}


def test_gql_create_and_delete(spark, tmp_path):
    """CREATE chains nodes (ids max+1..) then MATCH..DELETE cascades
    (executor.rs:521-615)."""
    from dd_graphdb_spark.plans.lower import GQLEngine
    from dd_graphdb_spark.storage import GraphStore

    store = GraphStore(spark, str(tmp_path / "g"))
    engine_factory = lambda: GQLEngine(
        store.as_property_graph({"name": "string", "age": "long"}), store=store
    )
    created = engine_factory().execute(
        "CREATE (a:Person {name: 'Ann', age: 40})-[:knows]->(b:Person {name: 'Ben', age: 20})"
    )
    assert [r["id"] for r in created.collect()] == [1, 2]
    assert store.stats() == {"vertex_count": 2, "edge_count": 1, "version": 1}

    read_back = engine_factory().execute("MATCH (v:Person) WHERE v.age > 25 RETURN v.name")
    assert [r[0] for r in read_back.collect()] == ["Ann"]

    deleted = engine_factory().execute("MATCH (v:Person) WHERE v.age > 25 DELETE v")
    assert [r["id"] for r in deleted.collect()] == [1]
    assert store.stats()["vertex_count"] == 1
    assert store.stats()["edge_count"] == 0  # cascade


def test_result_modifiers_order_skip_limit(people_graph):
    df = _engine(people_graph).execute(
        "MATCH (v:Person) RETURN v.name, v.age ORDER BY v.age DESC SKIP 1 LIMIT 1"
    )
    assert [tuple(r) for r in df.collect()] == [("Alice", 30)]


def test_count_star_and_count_var(people_graph):
    eng = _engine(people_graph)
    assert eng.execute("MATCH (v:Person) RETURN count(*)").collect()[0]["count"] == 3
    # implicit grouping: count per friend-target name
    df = eng.execute("MATCH (a)-[e:friend]->(b) RETURN b.name, count(a)")
    assert {(r["b_name"], r["count_a"]) for r in df.collect()} == {("Bob", 1), ("Charlie", 1)}


def test_return_distinct(people_graph):
    df = _engine(people_graph).execute("MATCH (v:Person) RETURN DISTINCT v.label")
    assert [r["v_label"] for r in df.collect()] == ["Person"]


def test_order_by_requires_projection(people_graph):
    # after DISTINCT (or aggregation) only the projected outputs remain
    # in scope — ORDER BY on anything else is an error (plain RETURN
    # supports non-projected ORDER BY via hidden sort columns; see
    # test_order_by_non_projected_property)
    with pytest.raises(ValueError, match="not projected"):
        _engine(people_graph).execute(
            "MATCH (v:Person) RETURN DISTINCT v.name ORDER BY v.age"
        ).collect()
    with pytest.raises(ValueError, match="not projected"):
        _engine(people_graph).execute(
            "MATCH (v:Person) RETURN v.label, count(v) ORDER BY v.age"
        ).collect()


def test_skip_limit_validation():
    from dd_graphdb_spark.plans.gql import parse_gql

    with pytest.raises(ValueError, match="non-negative"):
        parse_gql("MATCH (v) RETURN v.name LIMIT -1")
    s = parse_gql("MATCH (v) RETURN DISTINCT v.name ORDER BY v.name ASC SKIP 2 LIMIT 7")
    assert s.distinct and s.skip == 2 and s.limit == 7
    assert [(o.prop, o.desc) for o in s.order_by] == [("name", False)]


def test_sum_avg_min_max_aggregates(people_graph):
    eng = _engine(people_graph)
    row = eng.execute(
        "MATCH (v:Person) RETURN sum(v.age), avg(v.age), min(v.age), max(v.age)"
    ).collect()[0]
    assert row["sum_v_age"] == 90 and row["avg_v_age"] == 30.0
    assert row["min_v_age"] == 25 and row["max_v_age"] == 35
    with pytest.raises(ValueError, match="is not defined"):
        eng.execute("MATCH (v) RETURN sum(*)")
    with pytest.raises(ValueError, match="needs a property"):
        eng.execute("MATCH (v) RETURN max(v)")


def test_keywords_usable_as_identifiers():
    """Regression: `(o:Order)` must parse even though ORDER BY exists —
    word keywords are valid labels/variables/property keys in name
    positions (TRUE/FALSE/NULL stay reserved as literals)."""
    from dd_graphdb_spark.plans.gql import parse_gql

    s = parse_gql("MATCH (o:Order)-[:placed_by]->(c:Customer) RETURN o.id")
    assert s.pattern.nodes[0].label == "Order"
    s = parse_gql("MATCH (order:Order {count: 3}) RETURN order.limit ORDER BY order.limit")
    assert s.pattern.nodes[0].var == "order"
    assert s.pattern.nodes[0].props == {"count": 3}
    assert s.order_by[0].prop == "limit"
    with pytest.raises(ValueError, match="expected identifier"):
        parse_gql("MATCH (v:null) RETURN v")


def test_var_length_path_basic(people_graph):
    # Alice -friend-> Bob -friend-> Charlie
    df = _engine(people_graph).execute(
        "MATCH (a {name: 'Alice'})-[p:friend*1..2]->(b) RETURN b.name, p.hops"
    )
    assert {(r[0], r[1]) for r in df.collect()} == {("Bob", 1), ("Charlie", 2)}


def test_var_length_exact_and_zero(people_graph):
    eng = _engine(people_graph)
    df = eng.execute("MATCH (a {name: 'Alice'})-[p:friend*2]->(b) RETURN b.name")
    assert [r[0] for r in df.collect()] == ["Charlie"]
    # *0..1 includes the zero-hop identity binding (b = a)
    df = eng.execute("MATCH (a {name: 'Bob'})-[p:friend*0..1]->(b) RETURN b.name, p.hops")
    assert {(r[0], r[1]) for r in df.collect()} == {("Bob", 0), ("Charlie", 1)}


def test_var_length_undirected_walks(people_graph):
    # walks, not simple paths: 2 undirected hops from Alice may backtrack
    df = _engine(people_graph).execute(
        "MATCH (a {name: 'Alice'})-[p:friend*2]-(b) RETURN b.name"
    )
    assert {r[0] for r in df.collect()} == {"Alice", "Charlie"}


def test_var_length_requires_upper_bound():
    from dd_graphdb_spark.plans.gql import parse_gql

    with pytest.raises(ValueError, match="upper bound"):
        parse_gql("MATCH (a)-[p*]->(b) RETURN b.name")
    with pytest.raises(ValueError, match="upper bound"):
        parse_gql("MATCH (a)-[p:friend*2..]->(b) RETURN b.name")
    with pytest.raises(ValueError, match="bad hop range"):
        parse_gql("MATCH (a)-[p*3..2]->(b) RETURN b.name")
    s = parse_gql("MATCH (a)-[p:friend*..3]->(b) RETURN b.name")
    assert (s.pattern.edges[0].min_hops, s.pattern.edges[0].max_hops) == (1, 3)


def test_var_length_with_aggregation(people_graph):
    df = _engine(people_graph).execute(
        "MATCH (a:Person)-[p:friend*1..2]->(b) RETURN p.hops, count(*) ORDER BY p.hops"
    )
    # 1-hop walks: A->B, B->C; 2-hop: A->B->C
    assert [(r[0], r[1]) for r in df.collect()] == [(1, 2), (2, 1)]


def test_optional_match_left_join(people_graph):
    eng = _engine(people_graph)
    # Charlie has no outgoing friend edge → null binding for b
    df = eng.execute(
        "MATCH (a:Person) OPTIONAL MATCH (a)-[e:friend]->(b) RETURN a.name, b.name"
    )
    assert {(r[0], r[1]) for r in df.collect()} == {
        ("Alice", "Bob"), ("Bob", "Charlie"), ("Charlie", None)
    }
    # WHERE inside the OPTIONAL applies within the pattern, not as a
    # post-filter: non-matching rows stay, with nulls
    df = eng.execute(
        "MATCH (a:Person) OPTIONAL MATCH (a)-[e:friend]->(b) WHERE b.age > 30 "
        "RETURN a.name, b.name"
    )
    assert {(r[0], r[1]) for r in df.collect()} == {
        ("Alice", None), ("Bob", "Charlie"), ("Charlie", None)
    }
    # count(b) skips nulls (Cypher count-non-null semantics)
    df = eng.execute(
        "MATCH (a:Person) OPTIONAL MATCH (a)-[e:friend]->(b) RETURN count(b)"
    )
    assert df.collect()[0][0] == 2


def test_optional_match_requires_shared_variable(people_graph):
    with pytest.raises(ValueError, match="share at least one variable"):
        _engine(people_graph).execute(
            "MATCH (a:Person) OPTIONAL MATCH (x)-[e:friend]->(y) RETURN a.name"
        ).collect()


def test_string_predicates(people_graph):
    eng = _engine(people_graph)
    df = eng.execute("MATCH (v:Person) WHERE v.name CONTAINS 'li' RETURN v.name")
    assert {r[0] for r in df.collect()} == {"Alice", "Charlie"}
    df = eng.execute("MATCH (v:Person) WHERE v.name STARTS WITH 'A' RETURN v.name")
    assert {r[0] for r in df.collect()} == {"Alice"}
    df = eng.execute("MATCH (v:Person) WHERE v.name ENDS WITH 'e' RETURN v.name")
    assert {r[0] for r in df.collect()} == {"Alice", "Charlie"}
    df = eng.execute("MATCH (v:Person) WHERE v.name IN ['Bob', 'Zed'] RETURN v.age")
    assert [r[0] for r in df.collect()] == [25]
    df = eng.execute("MATCH (v:Person) WHERE v.age IN [25, 35] RETURN v.name")
    assert {r[0] for r in df.collect()} == {"Bob", "Charlie"}
    with pytest.raises(ValueError, match="needs a string literal"):
        eng.execute("MATCH (v:Person) WHERE v.name CONTAINS 5 RETURN v.name")


def test_inline_edge_properties(people_graph):
    eng = _engine(people_graph)
    df = eng.execute("MATCH (a)-[e:friend {since: 2021}]->(b) RETURN a.name, b.name")
    assert [(r[0], r[1]) for r in df.collect()] == [("Bob", "Charlie")]
    df = eng.execute("MATCH (a)<-[e:friend {since: 2020}]-(b) RETURN a.name")
    assert [r[0] for r in df.collect()] == ["Bob"]
    with pytest.raises(ValueError, match="variable-length"):
        eng.execute("MATCH (a)-[e:friend*1..2 {since: 2020}]->(b) RETURN a.name")


def test_merge_parses_node_and_pattern_forms():
    from dd_graphdb_spark.plans.gql import parse_gql

    s = parse_gql("MERGE (a:Person {name: 'Ann'})")
    assert s.node.label == "Person" and s.node.props == {"name": "Ann"}
    # relationship MERGE (whole-pattern semantics, round 7)
    s2 = parse_gql("MERGE (a:Person)-[:knows]->(b:Person)")
    assert len(s2.pattern.nodes) == 2 and s2.pattern.edges[0].label == "knows"


def test_property_to_property_compare(people_graph):
    # friendships where the source is older than the target
    df = _engine(people_graph).execute(
        "MATCH (a)-[e:friend]->(b) WHERE a.age > b.age RETURN a.name, b.name"
    )
    assert [(r[0], r[1]) for r in df.collect()] == [("Alice", "Bob")]
    # literal comparisons still parse (regression: 'true' is not a PropRef)
    df = _engine(people_graph).execute(
        "MATCH (a:Person) WHERE a.age = 25 RETURN a.name"
    )
    assert [r[0] for r in df.collect()] == ["Bob"]


def test_return_aliases(people_graph):
    eng = _engine(people_graph)
    df = eng.execute(
        "MATCH (v:Person) RETURN v.name AS who, v.age AS age ORDER BY age DESC LIMIT 1"
    )
    assert df.columns == ["who", "age"]
    assert df.collect()[0].who == "Charlie"
    df = eng.execute("MATCH (v:Person) RETURN count(*) AS n")
    assert df.columns == ["n"] and df.collect()[0].n == 3
    with pytest.raises(ValueError, match="cannot be aliased"):
        eng.execute("MATCH (v) RETURN * AS everything")


def test_with_clause_having_idiom(people_graph):
    eng = _engine(people_graph)
    # group by source, count friendships, keep prolific sources only
    df = eng.execute(
        "MATCH (a)-[e:friend]->(b) WITH a.name AS who, count(*) AS n "
        "WHERE n >= 1 RETURN who, n ORDER BY who"
    )
    assert [(r.who, r.n) for r in df.collect()] == [("Alice", 1), ("Bob", 1)]
    # aggregate over the WITH output
    df = eng.execute(
        "MATCH (v:Person) WITH v.age AS age RETURN sum(age) AS total"
    )
    assert df.collect()[0].total == 90
    with pytest.raises(ValueError, match="bare name"):
        eng.execute("MATCH (v:Person) WITH v.age AS age RETURN v.age").collect()
    # WITH * passes every variable through (r12) — v stays in scope
    rows = eng.execute(
        "MATCH (v:Person) WITH * RETURN v.name AS nm ORDER BY nm"
    ).collect()
    assert [r["nm"] for r in rows] == ["Alice", "Bob", "Charlie"]


def test_consecutive_match_clauses(people_graph):
    eng = _engine(people_graph)
    # conjunctive patterns: b must have BOTH an incoming and outgoing edge
    df = eng.execute(
        "MATCH (a)-[e1:friend]->(b) MATCH (b)-[e2:friend]->(c) RETURN a.name, c.name"
    )
    assert [(r[0], r[1]) for r in df.collect()] == [("Alice", "Charlie")]
    # second-clause WHERE applies to its pattern (inner join keeps filters)
    df = eng.execute(
        "MATCH (a:Person) MATCH (a)-[e:friend]->(b) WHERE b.age > 30 RETURN a.name"
    )
    assert [r[0] for r in df.collect()] == ["Bob"]
    with pytest.raises(ValueError, match="share at least one variable"):
        eng.execute("MATCH (a:Person) MATCH (x)-[e:friend]->(y) RETURN a.name")


def test_with_passthrough_then_match(people_graph):
    eng = _engine(people_graph)
    # pass the vertex through, filter on a projected scalar, then a
    # SECOND pattern extends from the passed-through variable
    df = eng.execute(
        "MATCH (a:Person)-[e1:friend]->(x) WITH a, a.age AS age WHERE age < 31 "
        "MATCH (a)-[e2:friend]->(b) RETURN a.name, age, b.name"
    )
    assert {(r[0], r[1], r[2]) for r in df.collect()} == {
        ("Alice", 30, "Bob"), ("Bob", 25, "Charlie")
    }
    # post-WITH OPTIONAL MATCH keeps unmatched rows
    df = eng.execute(
        "MATCH (a:Person) WITH a OPTIONAL MATCH (a)-[e:friend]->(b) "
        "RETURN a.name, count(b)"
    )
    assert {(r[0], r[1]) for r in df.collect()} == {
        ("Alice", 1), ("Bob", 1), ("Charlie", 0)
    }
    # r13: WITH a, count(*) groups by the ENTITY and keeps it in scope
    df = eng.execute(
        "MATCH (a:Person)-[:friend]->(x) WITH a, count(*) AS n "
        "RETURN a.name AS nm, n"
    )
    assert {(r["nm"], r["n"]) for r in df.collect()} == {
        ("Alice", 1), ("Bob", 1)
    }
    with pytest.raises(ValueError, match="not supported"):
        eng.execute(
            "MATCH (a) WITH count(*) AS n MATCH (b) RETURN n"
        )


def test_collect_aggregate(people_graph):
    eng = _engine(people_graph)
    # collect() with implicit grouping: friends per source, sorted array
    df = eng.execute(
        "MATCH (a:Person)-[e:friend]->(b) RETURN a.name, collect(b.name) AS friends"
    )
    assert {(r[0], tuple(r[1])) for r in df.collect()} == {
        ("Alice", ("Bob",)), ("Bob", ("Charlie",))
    }
    # global collect (no keys): one row, sorted
    df = eng.execute("MATCH (v:Person) RETURN collect(v.age) AS ages")
    assert [tuple(r[0]) for r in df.collect()] == [(25, 30, 35)]
    # post-WITH collect of a bare alias
    df = eng.execute(
        "MATCH (v:Person) WITH v.name AS name WHERE name != 'Bob' "
        "RETURN collect(name) AS names"
    )
    assert [tuple(r[0]) for r in df.collect()] == [("Alice", "Charlie")]
    # collect(*) is not defined
    with pytest.raises(ValueError, match=r"collect\(\*\) is not defined"):
        eng.execute("MATCH (v:Person) RETURN collect(*)")
    # collect of a whole vertex needs a property
    with pytest.raises(ValueError, match="needs a property"):
        eng.execute("MATCH (v:Person) RETURN collect(v)")


def test_not_and_is_null_predicates(people_graph):
    eng = _engine(people_graph)
    df = eng.execute("MATCH (v:Person) WHERE NOT v.age > 26 RETURN v.name")
    assert {r[0] for r in df.collect()} == {"Bob"}
    # NOT binds tighter than AND: NOT a AND b == (NOT a) AND b
    df = eng.execute(
        "MATCH (v:Person) WHERE NOT v.name = 'Bob' AND v.age < 31 RETURN v.name"
    )
    assert {r[0] for r in df.collect()} == {"Alice"}
    df = eng.execute("MATCH (v:Person) WHERE v.age IS NOT NULL RETURN v.name")
    assert df.count() == 3
    df = eng.execute("MATCH (v:Person) WHERE v.age IS NULL RETURN v.name")
    assert df.count() == 0


def test_optional_match_anti_join_idiom(people_graph):
    # the classic Cypher anti-join: vertices with NO match in the
    # optional pattern — OPTIONAL MATCH, pass through WITH, IS NULL
    eng = _engine(people_graph)
    df = eng.execute(
        "MATCH (a:Person) OPTIONAL MATCH (a)-[e:friend]->(b) "
        "WITH a.name AS name, b.name AS friend WHERE friend IS NULL "
        "RETURN name"
    )
    assert {r[0] for r in df.collect()} == {"Charlie"}


def test_count_distinct_aggregates(spark):
    from dd_graphdb_spark.graph import PropertyGraph

    v = spark.createDataFrame(
        [
            (1, "Person", "Alice", 30),
            (2, "Person", "Bob", 25),
            (3, "Person", "Carol", 30),
        ],
        "id long, label string, name string, age long",
    )
    e = spark.createDataFrame(
        [(1, 2, "knows"), (1, 3, "knows"), (2, 3, "knows")],
        "src long, dst long, label string",
    )
    eng = _engine(PropertyGraph(v, e))
    df = eng.execute(
        "MATCH (v:Person) RETURN count(DISTINCT v.age) AS ages, "
        "sum(DISTINCT v.age) AS total, collect(DISTINCT v.age) AS vals"
    )
    r = df.collect()[0]
    assert (r["ages"], r["total"], list(r["vals"])) == (2, 55, [25, 30])
    # avg(DISTINCT) = sum_distinct / count_distinct
    df = eng.execute("MATCH (v:Person) RETURN avg(DISTINCT v.age) AS a")
    assert df.collect()[0]["a"] == 27.5
    # count(DISTINCT b) counts distinct bound vertices per group
    df = eng.execute(
        "MATCH (a:Person)-[e:knows]->(b) RETURN a.name, count(DISTINCT b) AS nb"
    )
    assert {(r[0], r[1]) for r in df.collect()} == {("Alice", 2), ("Bob", 1)}
    import pytest as _pt

    with _pt.raises(ValueError, match=r"is not defined"):
        eng.execute("MATCH (v:Person) RETURN count(DISTINCT *)")


def test_is_null_on_pattern_variable_and_bare_name_error(people_graph):
    eng = _engine(people_graph)
    # `v IS [NOT] NULL` on a pattern variable asks about the BINDING
    # (id-column witness), not an unresolved bare column
    df = eng.execute("MATCH (v:Person) WHERE v IS NOT NULL RETURN v.name")
    assert df.count() == 3
    df = eng.execute("MATCH (v:Person) WHERE v IS NULL RETURN v.name")
    assert df.count() == 0
    # a bare name in a pattern WHERE (outside IS NULL) is a clean
    # ValueError, not a Spark AnalysisException leaking through /gql
    with pytest.raises(ValueError, match="only valid after WITH"):
        eng.execute("MATCH (v:Person) WHERE v > 5 RETURN v.name")


def test_return_star_repeated_variable_dedupes(people_graph):
    eng = _engine(people_graph)
    # cycle pattern binds `a` twice; RETURN * must emit its columns ONCE
    df = eng.execute("MATCH (a:Person)-[e1:friend]->(b)-[e2:friend]->(a) RETURN *")
    assert len(df.columns) == len(set(df.columns))
    df.collect()  # and the frame is actually resolvable


def test_is_null_on_passthrough_variable(people_graph):
    eng = _engine(people_graph)
    # the standard Cypher anti-join with a WHOLE passthrough variable:
    # WITH a, b WHERE b IS NULL (b's binding columns survive the WITH)
    df = eng.execute(
        "MATCH (a:Person) OPTIONAL MATCH (a)-[e:friend]->(b) "
        "WITH a, b WHERE b IS NULL RETURN a.name"
    )
    assert {r[0] for r in df.collect()} == {"Charlie"}


def test_arrow_op_before_name_is_clean_error(people_graph):
    eng = _engine(people_graph)
    with pytest.raises(ValueError, match="ambiguous"):
        eng.execute("MATCH (a:Person)-[e:friend]->(b) WHERE a.age<-b.age RETURN a.name")


def test_return_star_hides_anonymous_nodes(people_graph):
    eng = _engine(people_graph)
    df = eng.execute("MATCH (a:Person)-[e:friend]->() RETURN *")
    assert all(not c.startswith("_anon") for c in df.columns), df.columns
    assert any(c.startswith("a_") for c in df.columns)


def test_whole_variable_non_count_agg_rejected(people_graph):
    eng = _engine(people_graph)
    # the old behavior silently returned a COUNT aliased as a sum
    with pytest.raises(ValueError, match="needs a property"):
        eng.execute("MATCH (a:Person) WITH a RETURN sum(a) AS s")


def test_order_by_non_projected_property(people_graph):
    """Cypher allows ORDER BY on a non-projected property of an
    in-scope variable (when RETURN is neither DISTINCT nor
    aggregating) — hidden sort columns, dropped after the sort."""
    eng = _engine(people_graph)
    df = eng.execute("MATCH (v:Person) RETURN v.name ORDER BY v.age DESC")
    assert df.columns == ["v_name"]
    assert [r[0] for r in df.collect()] == ["Charlie", "Alice", "Bob"]
    # ...combined with SKIP/LIMIT
    df = eng.execute(
        "MATCH (v:Person) RETURN v.name ORDER BY v.age ASC LIMIT 2"
    )
    assert [r[0] for r in df.collect()] == ["Bob", "Alice"]
    # DISTINCT still restricts ORDER BY to projected outputs
    with pytest.raises(ValueError, match="not projected"):
        eng.execute(
            "MATCH (v:Person) RETURN DISTINCT v.name ORDER BY v.age"
        ).collect()


# --------------------------------------------------------------------------- UNWIND
def test_unwind_pure_value_table(people_graph):
    df = _engine(people_graph).execute("UNWIND [3, 1, 2] AS x RETURN x ORDER BY x")
    assert [r["x"] for r in df.collect()] == [1, 2, 3]


def test_unwind_drives_match_where(people_graph):
    df = _engine(people_graph).execute(
        "UNWIND ['Alice', 'Bob'] AS nm MATCH (v:Person) WHERE v.name = nm "
        "RETURN v.name, v.age ORDER BY v.age"
    )
    assert [(r["v_name"], r["v_age"]) for r in df.collect()] == [("Bob", 25), ("Alice", 30)]


def test_unwind_after_match_cross_product(people_graph):
    df = _engine(people_graph).execute(
        "MATCH (v:Person {name: 'Bob'}) UNWIND [10, 20] AS bonus "
        "RETURN v.name, bonus ORDER BY bonus"
    )
    assert [(r["v_name"], r["bonus"]) for r in df.collect()] == [("Bob", 10), ("Bob", 20)]


def test_unwind_collected_list_roundtrip(people_graph):
    # the verdict-r6 shape: collect() then UNWIND back to rows via WITH
    df = _engine(people_graph).execute(
        "MATCH (v:Person) WITH collect(v.name) AS names "
        "UNWIND names AS nm RETURN nm ORDER BY nm"
    )
    assert [r["nm"] for r in df.collect()] == ["Alice", "Bob", "Charlie"]


def test_unwind_grouped_collect_then_reaggregate(people_graph):
    df = _engine(people_graph).execute(
        "MATCH (a)-[e:friend]->(b) WITH a.name AS an, collect(b.name) AS fs "
        "UNWIND fs AS f RETURN an, f ORDER BY an"
    )
    assert [(r["an"], r["f"]) for r in df.collect()] == [("Alice", "Bob"), ("Bob", "Charlie")]


def test_unwind_empty_list_yields_no_rows(people_graph):
    assert _engine(people_graph).execute("UNWIND [] AS x RETURN x").count() == 0


def test_unwind_aggregate_over_binding(people_graph):
    df = _engine(people_graph).execute("UNWIND [1.5, 2] AS x RETURN sum(x) AS s")
    assert df.collect()[0]["s"] == 3.5


def test_unwind_parse_errors(people_graph):
    import pytest as _pt

    with _pt.raises(ValueError, match="bare name is only"):
        # a bare name has no scope at statement start
        _engine(people_graph).execute("UNWIND something AS x RETURN x")
    with _pt.raises(ValueError, match="not a WITH projection"):
        _engine(people_graph).execute(
            "MATCH (v:Person) WITH collect(v.name) AS names "
            "UNWIND wrong AS nm RETURN nm"
        )


def test_bare_name_rhs_comparison(people_graph):
    # `WHERE v.name = nm` with nm an UNWIND binding (bare-name RHS)
    df = _engine(people_graph).execute(
        "UNWIND [30] AS cutoff MATCH (v:Person) WHERE v.age >= cutoff RETURN v.name ORDER BY v.name"
    )
    assert [r["v_name"] for r in df.collect()] == ["Alice", "Charlie"]


# --------------------------------------------------------------------------- shortestPath
@pytest.fixture
def diamond_graph(spark):
    from dd_graphdb_spark.graph import PropertyGraph

    v = spark.createDataFrame(
        [(1, "P", "a"), (2, "P", "b"), (3, "P", "c"), (4, "P", "d"), (5, "P", "e")],
        "id long, label string, name string",
    )
    # a->b->c->d plus the direct shortcut a->d; e isolated
    e = spark.createDataFrame(
        [(1, 2, "x"), (2, 3, "x"), (3, 4, "x"), (1, 4, "x")],
        "src long, dst long, label string",
    )
    return PropertyGraph(v, e)


def test_shortest_path_picks_min_hops(diamond_graph):
    df = _engine(diamond_graph).execute(
        "MATCH p = shortestPath((a {name: 'a'})-[*1..5]->(b {name: 'd'})) "
        "RETURN p.hops, p.distance, p.path"
    )
    r = df.collect()[0]
    # the 1-hop shortcut wins over the 3-hop chain
    assert (r["p_hops"], r["p_distance"], r["p_path"]) == (1, 1.0, "1->4")


def test_shortest_path_unreachable_yields_no_row(diamond_graph):
    df = _engine(diamond_graph).execute(
        "MATCH p = shortestPath((a {name: 'a'})-[*1..5]->(b {name: 'e'})) RETURN p.hops"
    )
    assert df.count() == 0


def test_shortest_path_where_and_order(diamond_graph):
    df = _engine(diamond_graph).execute(
        "MATCH p = shortestPath((a {name: 'a'})-[*1..5]->(b)) "
        "WHERE p.hops > 1 RETURN b.name, p.hops"
    )
    assert [(r["b_name"], r["p_hops"]) for r in df.collect()] == [("c", 2)]


def test_shortest_path_undirected_and_label(diamond_graph):
    df = _engine(diamond_graph).execute(
        "MATCH p = shortestPath((a {name: 'd'})-[:x*1..5]-(b {name: 'a'})) RETURN p.path"
    )
    assert df.collect()[0]["p_path"] == "4->1"


def test_shortest_path_mutation_rejected(diamond_graph):
    with pytest.raises(ValueError, match="read-only"):
        _engine(diamond_graph).execute(
            "MATCH p = shortestPath((a)-[*1..2]->(b)) DELETE a"
        )


# --------------------------------------------------------------------------- expressions
def test_expr_arithmetic_in_where_and_return(people_graph):
    df = _engine(people_graph).execute(
        "MATCH (v:Person) WHERE v.age * 2 > 55 "
        "RETURN v.name AS n, v.age * 2 + 1 AS dbl ORDER BY n"
    )
    assert [(r["n"], r["dbl"]) for r in df.collect()] == [("Alice", 61), ("Charlie", 71)]


def test_expr_paren_grouping_vs_boolean_grouping(people_graph):
    # arithmetic parens on the LHS…
    df = _engine(people_graph).execute(
        "MATCH (v:Person) WHERE (v.age - 20) * 2 < 15 RETURN v.name"
    )
    assert [r["v_name"] for r in df.collect()] == ["Bob"]
    # …and boolean parens still group conditions
    df = _engine(people_graph).execute(
        "MATCH (v:Person) WHERE (v.age > 28 OR v.name = 'Bob') AND v.age < 33 "
        "RETURN v.name ORDER BY v.name"
    )
    assert [r["v_name"] for r in df.collect()] == ["Alice", "Bob"]


def test_expr_scalar_functions(people_graph):
    df = _engine(people_graph).execute(
        "MATCH (v:Person) RETURN toUpper(v.name) AS up, length(v.name) AS ln, "
        "abs(v.age - 30) AS d ORDER BY up"
    )
    rows = [(r["up"], r["ln"], r["d"]) for r in df.collect()]
    assert rows == [("ALICE", 5, 0), ("BOB", 3, 5), ("CHARLIE", 7, 5)]


def test_expr_aggregate_over_expression(people_graph):
    df = _engine(people_graph).execute(
        "MATCH (v:Person) RETURN sum(v.age * 2) AS s, avg(v.age + 0) AS a"
    )
    r = df.collect()[0]
    assert r["s"] == 180 and r["a"] == 30.0


def test_expr_through_with_and_unwind(people_graph):
    df = _engine(people_graph).execute(
        "MATCH (v:Person) WITH v.age * 2 AS dbl WHERE dbl > 55 "
        "RETURN dbl ORDER BY dbl"
    )
    assert [r["dbl"] for r in df.collect()] == [60, 70]
    df = _engine(people_graph).execute(
        "UNWIND [1, 2, 3] AS x RETURN x * 10 AS tens ORDER BY tens"
    )
    assert [r["tens"] for r in df.collect()] == [10, 20, 30]


def test_expr_errors(people_graph):
    with pytest.raises(ValueError, match="explicit"):
        _engine(people_graph).execute("MATCH (v:Person) RETURN v.age * 2")
    with pytest.raises(ValueError, match="unknown function"):
        _engine(people_graph).execute("MATCH (v:Person) RETURN foo(v.age) AS x")
    with pytest.raises(ValueError, match="integer literal"):
        _engine(people_graph).execute("MATCH (v:Person) RETURN round(v.age, v.age) AS x")


def test_list_comprehension(people_graph):
    df = _engine(people_graph).execute(
        "MATCH (v:Person {name: 'Bob'}) "
        "RETURN [x IN range(1, 5) WHERE x > 2 | x * 10] AS l, "
        "size([1, 2, 3]) AS n, "
        "[x IN range(1, 3) | x * x] AS sq, "
        "[x IN range(1, 4) WHERE x > v.age / 10] AS gt"
    )
    row = df.collect()[0]
    assert row["l"] == [30, 40, 50]
    assert row["n"] == 3
    assert row["sq"] == [1, 4, 9]
    assert row["gt"] == [3, 4]  # age 25 → x > 2.5


def test_unwind_list_comprehension(people_graph):
    df = _engine(people_graph).execute(
        "UNWIND [x IN range(1, 6) WHERE x > 3 | x + 100] AS y "
        "RETURN y ORDER BY y"
    )
    assert [r["y"] for r in df.collect()] == [104, 105, 106]


def test_nested_comprehension_scoping(people_graph):
    # the outer lambda variable is visible in the inner quantifier's
    # source (range(1, x)); the inner predicate sees both
    df = _engine(people_graph).execute(
        "MATCH (v:Person {name: 'Bob'}) RETURN "
        "size([x IN range(1, 3) WHERE any(y IN range(1, x) WHERE y = x) | x]) AS n"
    )
    assert df.collect()[0]["n"] == 3


def test_keys_and_properties(people_graph):
    df = _engine(people_graph).execute(
        "MATCH (v:Person {name: 'Bob'})-[e:friend]->(w:Person) "
        "RETURN keys(v) AS vk, properties(v) AS vp, "
        "keys(e) AS ek, properties(e) AS ep"
    )
    row = df.collect()[0]
    # label/id excluded: label is the TYPE (labels()/type()), id the ref
    assert row["vk"] == ["age", "name"]
    assert row["vp"] == '{"age":25,"name":"Bob"}'
    assert row["ek"] == ["since"]
    assert row["ep"] == '{"since":2021}'
    # size(keys(..)) composes in WHERE
    df = _engine(people_graph).execute(
        "MATCH (v:Person) WHERE toInteger(size(keys(v))) = 2 "
        "RETURN count(*) AS n"
    )
    assert df.collect()[0]["n"] == 3


def test_keys_requires_bound_variable(people_graph):
    with pytest.raises(ValueError, match="not a bound"):
        _engine(people_graph).execute(
            "MATCH (v:Person) RETURN keys(w) AS k"
        )


def test_arith_modulo_and_power(people_graph):
    df = _engine(people_graph).execute(
        "MATCH (v:Person) RETURN v.name AS n, v.age % 7 AS m, "
        "2 ^ 3 AS p, 2 ^ 3 ^ 2 AS rp ORDER BY n"
    )
    rows = [(r["n"], r["m"], r["p"], r["rp"]) for r in df.collect()]
    # ages 30/25/35 → %7 = 2/4/0; ^ is right-associative: 2^(3^2) = 512
    assert rows == [
        ("Alice", 2, 8.0, 512.0),
        ("Bob", 4, 8.0, 512.0),
        ("Charlie", 0, 8.0, 512.0),
    ]


def test_start_end_node(people_graph):
    # endpoint references are id-valued in this data model
    df = _engine(people_graph).execute(
        "MATCH (a:Person)-[e:friend]->(b:Person) "
        "RETURN startNode(e) AS s, id(endNode(e)) AS t ORDER BY s"
    )
    assert [(r["s"], r["t"]) for r in df.collect()] == [(1, 2), (2, 3)]


def test_in_list_expression(people_graph):
    # membership in a computed list (range)
    df = _engine(people_graph).execute(
        "MATCH (v:Person) WHERE v.age IN range(25, 30) "
        "RETURN v.name AS n ORDER BY n"
    )
    assert [r["n"] for r in df.collect()] == ["Alice", "Bob"]
    # membership in a string-derived list
    df = _engine(people_graph).execute(
        "MATCH (v:Person) WHERE v.name IN tail(split('xAlice', 'x')) "
        "RETURN v.name AS n"
    )
    assert [r["n"] for r in df.collect()] == ["Alice"]
    # computed LHS: toInteger(floor(..)) IN range(..)
    df = _engine(people_graph).execute(
        "MATCH (v:Person) WHERE toInteger(v.age / 10.0) IN range(3, 4) "
        "RETURN v.name AS n ORDER BY n"
    )
    assert [r["n"] for r in df.collect()] == ["Alice", "Charlie"]
    # literal-list IN is unchanged (isin pushdown path)
    df = _engine(people_graph).execute(
        "MATCH (v:Person) WHERE v.age IN [25, 35] RETURN v.name AS n ORDER BY n"
    )
    assert [r["n"] for r in df.collect()] == ["Bob", "Charlie"]


def test_reduce_expression(people_graph):
    df = _engine(people_graph).execute(
        "MATCH (v:Person {name: 'Bob'}) "
        "RETURN reduce(acc = 0, x IN range(1, 10) | acc + x) AS s"
    )
    assert df.collect()[0]["s"] == 55
    # step sees outer bindings too
    df = _engine(people_graph).execute(
        "MATCH (v:Person) RETURN v.name AS n, "
        "reduce(acc = 0, t IN split(v.name, 'l') | acc + length(t)) AS chars "
        "ORDER BY n"
    )
    assert [(r["n"], r["chars"]) for r in df.collect()] == [
        ("Alice", 4), ("Bob", 3), ("Charlie", 6)
    ]


def test_reduce_parse_errors(people_graph):
    with pytest.raises(ValueError, match="step expression"):
        _engine(people_graph).execute(
            "MATCH (v:Person) RETURN reduce(acc = 0, x IN range(1, 3)) AS s"
        )
    with pytest.raises(ValueError, match="reduce\\(acc = init"):
        _engine(people_graph).execute(
            "MATCH (v:Person) RETURN reduce(acc, x IN range(1, 3) | x) AS s"
        )


def test_quantified_list_predicates(people_graph):
    # any: at least one split part longer than 3 chars
    df = _engine(people_graph).execute(
        "MATCH (v:Person) WHERE any(p IN split(v.name, 'l') WHERE length(p) > 3) "
        "RETURN v.name AS n ORDER BY n"
    )
    assert [r["n"] for r in df.collect()] == ["Charlie"]
    # all / none / single over a range value list
    df = _engine(people_graph).execute(
        "MATCH (v:Person) WHERE all(x IN range(1, 3) WHERE v.age > x * 8) "
        "RETURN v.name AS n ORDER BY n"
    )
    # age > 24: all three ages qualify at x=1,2; x=3 needs age > 24
    assert [r["n"] for r in df.collect()] == ["Alice", "Bob", "Charlie"]
    df = _engine(people_graph).execute(
        "MATCH (v:Person) WHERE none(x IN range(30, 34) WHERE v.age = x) "
        "RETURN v.name AS n ORDER BY n"
    )
    assert [r["n"] for r in df.collect()] == ["Bob", "Charlie"]
    df = _engine(people_graph).execute(
        "MATCH (v:Person) WHERE single(p IN split(v.name, 'o') WHERE p = 'B') "
        "RETURN v.name AS n"
    )
    assert [r["n"] for r in df.collect()] == ["Bob"]


def test_quantified_predicate_composes_with_boolean_ops(people_graph):
    df = _engine(people_graph).execute(
        "MATCH (v:Person) WHERE v.age < 34 AND "
        "NOT any(x IN range(25, 27) WHERE v.age = x) "
        "RETURN v.name AS n ORDER BY n"
    )
    assert [r["n"] for r in df.collect()] == ["Alice"]


def test_quantified_predicate_errors(people_graph):
    with pytest.raises(ValueError, match="needs a WHERE"):
        _engine(people_graph).execute(
            "MATCH (v:Person) WHERE any(x IN range(1, 3)) RETURN v.name"
        )
    with pytest.raises(ValueError, match="no properties"):
        _engine(people_graph).execute(
            "MATCH (v:Person) WHERE any(x IN range(1, 3) WHERE x.p = 1) "
            "RETURN v.name"
        )


def test_unwind_range(people_graph):
    df = _engine(people_graph).execute(
        "UNWIND range(1, 7, 3) AS x RETURN x, x * x AS sq ORDER BY x"
    )
    assert [(r["x"], r["sq"]) for r in df.collect()] == [(1, 1), (4, 16), (7, 49)]
    # 2-arg range is step 1, inclusive on both ends
    df = _engine(people_graph).execute(
        "UNWIND range(3, 5) AS x RETURN x ORDER BY x"
    )
    assert [r["x"] for r in df.collect()] == [3, 4, 5]


def test_unwind_list_expression_over_bindings(people_graph):
    # per-row explode of a computed list (split of a bound property)
    df = _engine(people_graph).execute(
        "MATCH (v:Person) UNWIND split(v.name, 'l') AS part "
        "RETURN v.name AS n, part ORDER BY n, part"
    )
    assert [(r["n"], r["part"]) for r in df.collect()] == [
        ("Alice", "A"), ("Alice", "ice"),
        ("Bob", "Bob"),
        ("Charlie", "Char"), ("Charlie", "ie"),
    ]


def test_list_functions_head_last_tail(people_graph):
    df = _engine(people_graph).execute(
        "MATCH (v:Person) WITH collect(v.name) AS names "
        "RETURN head(names) AS h, last(names) AS l, "
        "toInteger(size(tail(names))) AS t"
    )
    row = df.collect()[0]
    # collect() is sorted for determinism: [Alice, Bob, Charlie]
    assert row["h"] == "Alice" and row["l"] == "Charlie" and row["t"] == 2
    # head/last of an empty list → NULL (Cypher)
    df = _engine(people_graph).execute(
        "MATCH (v:Person {name: 'Bob'}) "
        "RETURN head(tail(split('ab', 'x'))) AS h"
    )
    assert df.collect()[0]["h"] is None


def test_order_by_expression(people_graph):
    # computed sort key over a projected alias
    df = _engine(people_graph).execute(
        "MATCH (v:Person) RETURN v.name AS n, v.age AS a ORDER BY a * -1"
    )
    assert [r["n"] for r in df.collect()] == ["Charlie", "Alice", "Bob"]
    # var.prop inside an ORDER BY expression resolves to the projected
    # output column (v_age)
    df = _engine(people_graph).execute(
        "MATCH (v:Person) RETURN v.name, v.age ORDER BY v.age * -1"
    )
    assert [r["v_name"] for r in df.collect()] == ["Charlie", "Alice", "Bob"]
    # CASE as a sort key, with a tie-break
    df = _engine(people_graph).execute(
        "MATCH (v:Person) RETURN v.name AS n "
        "ORDER BY CASE WHEN n = 'Bob' THEN 0 ELSE 1 END, n"
    )
    assert [r["n"] for r in df.collect()] == ["Bob", "Alice", "Charlie"]


def test_order_by_expression_in_with_pipeline(people_graph):
    df = _engine(people_graph).execute(
        "MATCH (v:Person) WITH v.name AS nm, v.age AS a "
        "ORDER BY length(nm) * -1 LIMIT 1 RETURN nm, a"
    )
    assert df.collect()[0]["nm"] == "Charlie"


def test_order_by_expression_requires_projected_refs(people_graph):
    with pytest.raises(ValueError, match="not in the projected output"):
        _engine(people_graph).execute(
            "MATCH (v:Person) RETURN v.name AS n ORDER BY v.age + 1"
        )


def test_aggregate_stdev_percentile(people_graph):
    df = _engine(people_graph).execute(
        "MATCH (v:Person) RETURN stDev(v.age) AS sd, stDevP(v.age) AS sdp, "
        "percentileCont(v.age, 0.5) AS med, percentileDisc(v.age, 0.9) AS p90"
    )
    row = df.collect()[0]
    # ages 25/30/35: sample sd = 5, population sd = sqrt(50/3)
    assert abs(row["sd"] - 5.0) < 1e-9
    assert abs(row["sdp"] - (50.0 / 3) ** 0.5) < 1e-9
    assert row["med"] == 30.0
    # nearest-rank: ceil(0.9 * 3) = 3 → third of [25, 30, 35]
    assert row["p90"] == 35


def test_aggregate_percentile_requires_literal(people_graph):
    with pytest.raises(ValueError, match="percentile"):
        _engine(people_graph).execute(
            "MATCH (v:Person) RETURN percentileCont(v.age) AS m"
        )
    with pytest.raises(ValueError, match=r"\[0, 1\]"):
        _engine(people_graph).execute(
            "MATCH (v:Person) RETURN percentileDisc(v.age, 2) AS m"
        )


def test_simple_case_expression(people_graph):
    # CASE expr WHEN val — desugared to searched CASE at parse time
    df = _engine(people_graph).execute(
        "MATCH (v:Person) RETURN v.name AS n, "
        "CASE v.name WHEN 'Alice' THEN 1 WHEN 'Bob' THEN 2 ELSE 0 END AS tag "
        "ORDER BY n"
    )
    assert [(r["n"], r["tag"]) for r in df.collect()] == [
        ("Alice", 1), ("Bob", 2), ("Charlie", 0)
    ]
    # no ELSE ⇒ NULL for unmatched operands
    df = _engine(people_graph).execute(
        "MATCH (v:Person) RETURN v.name AS n, "
        "CASE v.age WHEN 25 THEN 'young' END AS tag ORDER BY n"
    )
    assert [(r["n"], r["tag"]) for r in df.collect()] == [
        ("Alice", None), ("Bob", "young"), ("Charlie", None)
    ]


def test_expr_string_functions(people_graph):
    df = _engine(people_graph).execute(
        "MATCH (v:Person {name: 'Alice'}) RETURN "
        "substring(v.name, 1) AS sub2, substring(v.name, 1, 3) AS sub3, "
        "left(v.name, 2) AS lf, right(v.name, 2) AS rt, "
        "replace(v.name, 'li', 'LI') AS rep, reverse(v.name) AS rev, "
        "trim(v.name) AS tr"
    )
    row = df.collect()[0]
    # Cypher substring is 0-indexed: start 1 = from the second char
    assert row["sub2"] == "lice" and row["sub3"] == "lic"
    assert row["lf"] == "Al" and row["rt"] == "ce"
    assert row["rep"] == "ALIce" and row["rev"] == "ecilA"
    assert row["tr"] == "Alice"


def test_expr_split_size(people_graph):
    df = _engine(people_graph).execute(
        "MATCH (v:Person) RETURN v.name AS n, "
        "size(split(v.name, 'l')) AS parts ORDER BY n"
    )
    assert [(r["n"], r["parts"]) for r in df.collect()] == [
        ("Alice", 2), ("Bob", 1), ("Charlie", 2)
    ]
    # the delimiter is a LITERAL string, not a regex: '.' must split on
    # dots only (unescaped it would match every character)
    df = _engine(people_graph).execute(
        "MATCH (v:Person {name: 'Bob'}) RETURN size(split('a.b.c', '.')) AS n"
    )
    assert df.collect()[0]["n"] == 3


def test_expr_split_requires_literal_delim(people_graph):
    with pytest.raises(ValueError, match="string literal"):
        _engine(people_graph).execute(
            "MATCH (v:Person) RETURN split(v.name, v.name) AS x"
        )


def test_expr_numeric_and_conversions(people_graph):
    df = _engine(people_graph).execute(
        "MATCH (v:Person {name: 'Bob'}) RETURN "
        "toInteger(v.age / 10.0) AS ti, toInteger('42') AS ts_i, "
        "toFloat(v.age) AS tf, toString(v.age) AS ts, "
        "sign(v.age - 30) AS sg, floor(v.age / 10.0) AS fl, "
        "ceil(v.age / 10.0) AS ce, sqrt(v.age * 0.0 + 25.0) AS sq"
    )
    row = df.collect()[0]
    # toInteger truncates toward zero (Cypher): 2.5 → 2
    assert row["ti"] == 2 and row["ts_i"] == 42
    assert row["tf"] == 25.0 and row["ts"] == "25"
    # Cypher types: sign → Integer, floor/ceil → Float
    assert row["sg"] == -1 and row["fl"] == 2.0 and row["ce"] == 3.0
    assert row["sq"] == 5.0


def test_expr_unspaced_minus_still_subtracts(people_graph):
    # 'v.age -1' lexes the minus into the number; the expr parser must
    # absorb it as subtraction
    df = _engine(people_graph).execute(
        "MATCH (v:Person {name: 'Bob'}) RETURN v.age -1 AS am"
    )
    assert df.collect()[0]["am"] == 24


# --------------------------------------------------------------------------- EXISTS
def test_exists_pattern_semi_join(people_graph):
    df = _engine(people_graph).execute(
        "MATCH (v:Person) WHERE EXISTS((v)-[:friend]->(u)) RETURN v.name ORDER BY v.name"
    )
    assert [r["v_name"] for r in df.collect()] == ["Alice", "Bob"]


def test_not_exists_pattern_anti_join(people_graph):
    df = _engine(people_graph).execute(
        "MATCH (v:Person) WHERE NOT EXISTS((v)-[:friend]->(u)) RETURN v.name"
    )
    assert [r["v_name"] for r in df.collect()] == ["Charlie"]


def test_exists_with_residual_condition(people_graph):
    # top-level AND split: semi-join + column filter
    df = _engine(people_graph).execute(
        "MATCH (v:Person) WHERE EXISTS((v)-[:friend]->(u)) AND v.age > 26 RETURN v.name"
    )
    assert [r["v_name"] for r in df.collect()] == ["Alice"]


def test_exists_inner_node_filter(people_graph):
    # inline props on the existentially-quantified node constrain it
    df = _engine(people_graph).execute(
        "MATCH (v:Person) WHERE EXISTS((v)-[:friend]->(u {name: 'Charlie'})) RETURN v.name"
    )
    assert [r["v_name"] for r in df.collect()] == ["Bob"]


def test_exists_errors(people_graph):
    with pytest.raises(ValueError, match="top-level AND"):
        _engine(people_graph).execute(
            "MATCH (v:Person) WHERE EXISTS((v)-[:friend]->(u)) OR v.age > 1 RETURN v.name"
        ).collect()
    with pytest.raises(ValueError, match="share at least one variable"):
        _engine(people_graph).execute(
            "MATCH (v:Person) WHERE EXISTS((x)-[:friend]->(y)) RETURN v.name"
        ).collect()


def test_shortest_path_pvar_collision_rejected(diamond_graph):
    with pytest.raises(ValueError, match="collides"):
        _engine(diamond_graph).execute(
            "MATCH a = shortestPath((a)-[*1..2]->(b)) RETURN a.name"
        )


def test_merge_edge_whole_pattern(spark, tmp_path):
    """Relationship MERGE: whole-pattern semantics — match binds,
    otherwise the ENTIRE pattern is created, even when an endpoint
    exists on its own (single-clause Cypher)."""
    from dd_graphdb_spark.plans.lower import GQLEngine
    from dd_graphdb_spark.storage import GraphStore

    store = GraphStore(spark, str(tmp_path / "m"))
    eng = lambda: GQLEngine(store.as_property_graph({"name": "string"}), store=store)
    r1 = eng().execute("MERGE (a:P {name: 'x'})-[:r]->(b:P {name: 'y'})").collect()
    assert [(r["a"], r["b"]) for r in r1] == [(1, 2)]
    assert store.stats() == {"vertex_count": 2, "edge_count": 1, "version": 1}
    # idempotent re-merge: binds, no writes
    r2 = eng().execute("MERGE (a:P {name: 'x'})-[:r]->(b:P {name: 'y'})").collect()
    assert [(r["a"], r["b"]) for r in r2] == [(1, 2)]
    assert store.stats()["version"] == 1
    # endpoint x exists, full pattern doesn't → creates whole pattern
    eng().execute("MERGE (a:P {name: 'x'})-[:r]->(b:P {name: 'z'})")
    assert store.stats() == {"vertex_count": 4, "edge_count": 2, "version": 2}


@pytest.fixture
def knows_graph(spark):
    from dd_graphdb_spark.graph import PropertyGraph

    v = spark.createDataFrame(
        [(1, "P", "a", 30), (2, "P", "b", 20), (3, "P", "c", 40), (4, "Q", "d", 10)],
        "id long, label string, name string, age long",
    )
    e = spark.createDataFrame(
        [(1, 2, "knows"), (1, 3, "knows"), (2, 3, "knows"), (3, 1, "likes")],
        "src long, dst long, label string",
    )
    return PropertyGraph(v, e)


def test_count_subquery_return_and_where(knows_graph):
    from dd_graphdb_spark.plans.lower import GQLEngine

    eng = GQLEngine(knows_graph)
    rows = eng.execute(
        "MATCH (v:P) RETURN v.name AS name, "
        "COUNT { (v)-[:knows]->(u) } AS n ORDER BY name"
    ).collect()
    assert [(r["name"], r["n"]) for r in rows] == [("a", 2), ("b", 1), ("c", 0)]
    # inner WHERE filters the subquery's own matches
    rows = eng.execute(
        "MATCH (v:P) RETURN v.name AS name, "
        "COUNT { (v)-[:knows]->(u) WHERE u.age > 25 } AS n ORDER BY name"
    ).collect()
    assert [(r["name"], r["n"]) for r in rows] == [("a", 1), ("b", 1), ("c", 0)]
    # WHERE position + arithmetic composition
    rows = eng.execute(
        "MATCH (v:P) WHERE COUNT { (v)-[:knows]->(u) } >= 2 "
        "RETURN v.name AS name"
    ).collect()
    assert [r["name"] for r in rows] == ["a"]
    rows = eng.execute(
        "MATCH (v:P) RETURN v.name AS name, COUNT { (v)-[:knows]->(u) } "
        "+ COUNT { (v)-[:likes]->(w) } AS deg ORDER BY name"
    ).collect()
    assert [(r["name"], r["deg"]) for r in rows] == [("a", 2), ("b", 1), ("c", 1)]


def test_count_subquery_in_with(knows_graph):
    from dd_graphdb_spark.plans.lower import GQLEngine

    rows = GQLEngine(knows_graph).execute(
        "MATCH (v:P) WITH v.name AS name, COUNT { (v)-[:knows]->(u) } AS n "
        "WHERE n > 0 RETURN name, n ORDER BY name"
    ).collect()
    assert [(r["name"], r["n"]) for r in rows] == [("a", 2), ("b", 1)]


def test_count_subquery_errors(knows_graph):
    from dd_graphdb_spark.plans.lower import GQLEngine

    eng = GQLEngine(knows_graph)
    with pytest.raises(ValueError, match="share at least one variable"):
        eng.execute("MATCH (v:P) RETURN COUNT { (x:Q)-[:knows]->(u) } AS n")
    # post-WITH COUNT{} is supported via PASSTHROUGH variables (r10);
    # projecting only v.name drops the id witness — the correlation
    # check catches it (pass `WITH v, v.name AS name` to fix)
    with pytest.raises(ValueError, match="share at least one variable"):
        eng.execute(
            "MATCH (v:P) WITH v.name AS name "
            "RETURN name, COUNT { (v)-->(u) } AS n"
        )


def test_exists_block_form(knows_graph):
    from dd_graphdb_spark.plans.lower import GQLEngine

    eng = GQLEngine(knows_graph)
    rows = eng.execute(
        "MATCH (v:P) WHERE EXISTS { MATCH (v)-[:knows]->(u) WHERE u.age > 35 } "
        "RETURN v.name AS name ORDER BY name"
    ).collect()
    assert [r["name"] for r in rows] == ["a", "b"]
    # NOT + short form (no MATCH keyword)
    rows = eng.execute(
        "MATCH (v:P) WHERE NOT EXISTS { (v)-[:knows]->(u) WHERE u.age > 35 } "
        "RETURN v.name AS name ORDER BY name"
    ).collect()
    assert [r["name"] for r in rows] == ["c"]


def test_pattern_comprehension(knows_graph):
    from dd_graphdb_spark.plans.lower import GQLEngine

    eng = GQLEngine(knows_graph)
    rows = eng.execute(
        "MATCH (v:P) RETURN v.name AS name, "
        "[(v)-[:knows]->(u) | u.name] AS friends ORDER BY name"
    ).collect()
    assert [(r["name"], r["friends"]) for r in rows] == [
        ("a", ["b", "c"]), ("b", ["c"]), ("c", []),
    ]
    # inner WHERE + composition inside another function
    rows = eng.execute(
        "MATCH (v:P) RETURN v.name AS name, "
        "size([(v)-[:knows]->(u) WHERE u.age > 25 | u.name]) AS n "
        "ORDER BY name"
    ).collect()
    assert [(r["name"], r["n"]) for r in rows] == [("a", 1), ("b", 1), ("c", 0)]
    # a list literal whose first element is parenthesized still parses
    rows = eng.execute(
        "MATCH (v:P) WHERE v.name = 'a' RETURN [(1+2)*3, 4] AS l"
    ).collect()
    assert rows[0]["l"] == [9, 4]
    with pytest.raises(ValueError, match="pattern comprehension"):
        eng.execute("MATCH (v:P) RETURN [(v)-[:knows]->(u)] AS l")


def test_xor_and_with_distinct(knows_graph):
    from dd_graphdb_spark.plans.lower import GQLEngine

    eng = GQLEngine(knows_graph)
    # exactly-one-of-two: ages 30,20,40 / labels P,P,P + Q(10)
    rows = eng.execute(
        "MATCH (v) WHERE v.age > 25 XOR v.name = 'c' "
        "RETURN v.name AS nm ORDER BY nm"
    ).collect()
    assert [r["nm"] for r in rows] == ["a"]  # a: T^F; c: T^T=F; b,d: F^F
    # precedence: OR binds loosest — (age>25 XOR name='c') OR name='d'
    rows = eng.execute(
        "MATCH (v) WHERE v.age > 25 XOR v.name = 'c' OR v.name = 'd' "
        "RETURN v.name AS nm ORDER BY nm"
    ).collect()
    assert [r["nm"] for r in rows] == ["a", "d"]
    # WITH DISTINCT dedups the projection before the pipeline filter
    rows = eng.execute(
        "MATCH (v:P)-[:knows]->(u) WITH DISTINCT v.name AS nm "
        "RETURN nm ORDER BY nm"
    ).collect()
    assert [r["nm"] for r in rows] == ["a", "b"]


def test_collect_subquery(knows_graph):
    """COLLECT { MATCH .. RETURN expr } is the pattern-comprehension
    lowering under the Cypher 5 spelling — sorted list, empty default."""
    from dd_graphdb_spark.plans.lower import GQLEngine

    rows = GQLEngine(knows_graph).execute(
        "MATCH (v:P) RETURN v.name AS name, "
        "COLLECT { MATCH (v)-[:knows]->(u) WHERE u.age > 15 RETURN u.name } "
        "AS friends ORDER BY name"
    ).collect()
    assert [(r["name"], r["friends"]) for r in rows] == [
        ("a", ["b", "c"]), ("b", ["c"]), ("c", []),
    ]


def test_map_projection(knows_graph):
    from dd_graphdb_spark.plans.lower import GQLEngine

    eng = GQLEngine(knows_graph)
    rows = eng.execute(
        "MATCH (v:Q) RETURN v {.name, .age} AS m"
    ).collect()
    assert rows[0]["m"] == '{"name":"d","age":10}'
    # edge variable + source order preserved
    rows = eng.execute(
        "MATCH (a:P {name: 'a'})-[e:knows]->(b) RETURN e {.label, .src} AS m"
    ).collect()
    assert all(r["m"].startswith('{"label":"knows"') for r in rows)
    with pytest.raises(ValueError, match="unknown properties"):
        eng.execute("MATCH (v:P) RETURN v {.nope} AS m")
    with pytest.raises(ValueError, match="not a bound pattern variable"):
        eng.execute("MATCH (v:P) RETURN z {.name} AS m")


def test_call_subquery(knows_graph):
    from dd_graphdb_spark.plans.lower import GQLEngine

    eng = GQLEngine(knows_graph)
    # aggregate over a UNION ALL body
    rows = eng.execute(
        "CALL { MATCH (p:P) RETURN p.name AS nm "
        "UNION ALL MATCH (q:Q) RETURN q.name AS nm } "
        "RETURN count(nm) AS n"
    ).collect()
    assert rows[0]["n"] == 4
    # projection + ORDER BY + LIMIT over the subquery's bare columns
    rows = eng.execute(
        "CALL { MATCH (p:P) RETURN p.name AS nm, p.age AS age } "
        "RETURN nm, age ORDER BY age DESC LIMIT 2"
    ).collect()
    assert [(r["nm"], r["age"]) for r in rows] == [("c", 40), ("a", 30)]
    # RETURN * passes the body's columns through
    rows = eng.execute(
        "CALL { MATCH (q:Q) RETURN q.name AS nm } RETURN *"
    ).collect()
    assert [r["nm"] for r in rows] == ["d"]
    # expressions over bare names
    rows = eng.execute(
        "CALL { MATCH (p:P) RETURN p.age AS age } RETURN sum(age + 1) AS s"
    ).collect()
    assert rows[0]["s"] == 93  # (30+1)+(20+1)+(40+1)


def test_call_subquery_parse_errors():
    from dd_graphdb_spark.plans.gql import parse_gql

    with pytest.raises(ValueError, match="correlated CALL"):
        parse_gql("CALL { WITH 1 AS x RETURN x } RETURN x")
    with pytest.raises(ValueError, match="must be a read query"):
        parse_gql("CALL { CREATE (a:P) } RETURN a")


def test_merge_on_create_on_match_set(spark, tmp_path):
    """MERGE conditional actions: ON CREATE SET fires only on the create
    branch, ON MATCH SET only on the match branch; edge variables are
    settable too."""
    from dd_graphdb_spark.plans.lower import GQLEngine
    from dd_graphdb_spark.storage import GraphStore
    from dd_graphdb_spark.storage.store import prop_typed

    store = GraphStore(spark, str(tmp_path / "m"))
    eng = lambda: GQLEngine(
        store.as_property_graph({"name": "string", "n": "long"}), store=store
    )
    stmt = (
        "MERGE (a:P {name: 'x'}) "
        "ON CREATE SET a.n = 1 ON MATCH SET a.n = 2"
    )
    eng().execute(stmt)
    vals = lambda: {
        r["name"]: r["n"]
        for r in store.vertices()
        .select(
            prop_typed("properties", "name").alias("name"),
            prop_typed("properties", "n", "long").alias("n"),
        )
        .collect()
    }
    assert vals() == {"x": 1}
    assert store.stats()["version"] == 1  # create+set is ONE version
    eng().execute(stmt)
    assert vals() == {"x": 2}
    # ON MATCH in first position; ON CREATE only — a match leaves props be
    eng().execute("MERGE (b:P {name: 'y'}) ON MATCH SET b.n = 9 ON CREATE SET b.n = 5")
    eng().execute("MERGE (c:P {name: 'z'}) ON CREATE SET c.n = 7")
    eng().execute("MERGE (c:P {name: 'z'}) ON CREATE SET c.n = 8")
    assert vals() == {"x": 2, "y": 5, "z": 7}


def test_merge_on_actions_edge_var(spark, tmp_path):
    from dd_graphdb_spark.plans.lower import GQLEngine
    from dd_graphdb_spark.storage import GraphStore
    from dd_graphdb_spark.storage.store import prop_typed

    store = GraphStore(spark, str(tmp_path / "me"))
    eng = lambda: GQLEngine(
        store.as_property_graph({"name": "string"}), store=store
    )
    stmt = (
        "MERGE (a:P {name: 'x'})-[e:r]->(b:P {name: 'y'}) "
        "ON CREATE SET e.w = 1 ON MATCH SET e.w = 9"
    )
    eng().execute(stmt)
    w = lambda: [
        r["w"]
        for r in store.edges()
        .select(prop_typed("properties", "w", "long").alias("w"))
        .collect()
    ]
    assert w() == [1]
    eng().execute(stmt)
    assert w() == [9]


def test_merge_on_actions_parse_errors():
    from dd_graphdb_spark.plans.gql import parse_gql

    for bad, msg in [
        ("MERGE (a:P) ON CREATE a.x = 1", "expected SET"),
        ("MERGE (a:P) ON CREATE SET z.x = 1", "unknown variable"),
        ("MERGE (a:P) ON CREATE SET a.x = 1 ON CREATE SET a.y = 2", "duplicate"),
        ("MERGE (a:P) ON DELETE SET a.x = 1", "ON CREATE SET or ON MATCH SET"),
    ]:
        with pytest.raises(ValueError, match=msg):
            parse_gql(bad)


def test_create_repeated_variable_is_one_node(spark, tmp_path):
    from dd_graphdb_spark.plans.lower import GQLEngine
    from dd_graphdb_spark.storage import GraphStore

    store = GraphStore(spark, str(tmp_path / "c"))
    eng = GQLEngine(store.as_property_graph({"name": "string"}), store=store)
    out = eng.execute("CREATE (s:P {name: 'loop'})-[:self]->(s)").collect()
    assert [r["id"] for r in out] == [1, 1]
    assert store.stats() == {"vertex_count": 1, "edge_count": 1, "version": 1}


def test_exists_inside_optional_match_where(people_graph):
    """EXISTS routes through _apply_where for clause WHEREs too: the
    optional pattern keeps only targets that themselves have an
    outgoing friend edge (Bob->Charlie: Charlie has none -> null)."""
    df = _engine(people_graph).execute(
        "MATCH (a:Person) OPTIONAL MATCH (a)-[:friend]->(b) "
        "WHERE EXISTS((b)-[:friend]->(c)) "
        "RETURN a.name, b.name ORDER BY a.name"
    )
    rows = [(r["a_name"], r["b_name"]) for r in df.collect()]
    # Alice->Bob kept (Bob has outgoing); Bob->Charlie dropped within
    # the optional (Charlie has none) -> Bob keeps null; Charlie null
    assert rows == [("Alice", "Bob"), ("Bob", None), ("Charlie", None)]


# --------------------------------------------------------------------------- WITH ORDER BY/LIMIT
def test_with_orderby_limit_pipeline_topk(people_graph):
    df = _engine(people_graph).execute(
        "MATCH (a:Person)-[:friend]->(b) WITH a.name AS an, count(b) AS n "
        "ORDER BY n DESC, an LIMIT 1 RETURN an, n"
    )
    # Alice and Bob each have 1 outgoing friend; the name tie-break
    # makes Alice the deterministic top-1
    assert [tuple(r) for r in df.collect()] == [("Alice", 1)]


def test_with_orderby_limit_then_post_match(people_graph):
    # top-1 oldest person, then expand their friendships after the cut
    df = _engine(people_graph).execute(
        "MATCH (p:Person) WITH p ORDER BY p.age DESC LIMIT 1 "
        "MATCH (x)-[:friend]->(p) RETURN p.name, x.name"
    )
    # oldest = Charlie(35); only Bob->Charlie exists
    assert [tuple(r) for r in df.collect()] == [("Charlie", "Bob")]


def test_with_skip_window(people_graph):
    df = _engine(people_graph).execute(
        "MATCH (p:Person) WITH p.age AS age ORDER BY age SKIP 1 LIMIT 1 "
        "RETURN age"
    )
    assert [r["age"] for r in df.collect()] == [30]


def test_with_orderby_unprojected_errors(people_graph):
    with pytest.raises(ValueError, match="not projected by the WITH"):
        _engine(people_graph).execute(
            "MATCH (p:Person) WITH p.age AS age ORDER BY nope RETURN age"
        ).collect()


# --------------------------------------------------------------------------- r8: frontier shortestPath + write-pattern fixes
def test_shortest_path_frontier_state_stays_pairs_sized(spark, monkeypatch):
    """The r7 scale-killer guard: on a hub graph, walk enumeration
    materializes degree^hops rows while the frontier search carries at
    most one row per (start, end) pair. Instrument the per-round
    checkpoint to record every state frame's row count and assert the
    BFS never materializes more than the pair bound — the walk count
    for this graph at *1..4 is ~3.6k, the pair bound 62."""
    from dd_graphdb_spark.algorithms import _iter
    from dd_graphdb_spark.graph import PropertyGraph
    from dd_graphdb_spark.plans.lower import GQLEngine

    hub_n = 60
    v = spark.createDataFrame(
        [(0, "Hub", "hub")] + [(i, "Spoke", f"s{i}") for i in range(1, hub_n + 1)],
        "id long, label string, name string",
    )
    e = spark.createDataFrame(
        [(i, 0, "x") for i in range(1, hub_n + 1)]
        + [(0, i, "x") for i in range(1, hub_n + 1)],
        "src long, dst long, label string",
    )
    sizes = []
    real = _iter.materialize
    real_count = _iter.materialize_count

    def counting(df):
        out = real(df)
        sizes.append(out.count())
        return out

    def counting_count(df):
        out, n = real_count(df)
        sizes.append(n)
        return out, n

    # the BFS materializes frontiers via materialize_count (r16 —
    # checkpoint+emptiness in one action) and the zero-hop frame via
    # materialize; instrument both so every state frame is counted
    monkeypatch.setattr(_iter, "materialize", counting)
    monkeypatch.setattr(_iter, "materialize_count", counting_count)
    df = GQLEngine(PropertyGraph(v, e)).execute(
        "MATCH p = shortestPath((a {name: 's1'})-[*1..4]->(b)) "
        "RETURN b.name AS nm, p.hops AS hops ORDER BY hops, nm"
    )
    rows = df.collect()
    # s1 reaches the hub at 1 hop, every spoke (incl. itself, cycle) at 2
    assert (rows[0]["nm"], rows[0]["hops"]) == ("hub", 1)
    assert {r["hops"] for r in rows[1:]} == {2}
    assert len(rows) == hub_n + 1
    # every materialized state frame is pair-bounded, never walk-sized
    assert sizes and max(sizes) <= hub_n + 2


def test_shortest_path_frontier_drains_early(spark, monkeypatch):
    """A 2-node chain explored to *1..9 must stop as soon as the
    frontier drains instead of running 9 rounds."""
    from dd_graphdb_spark.algorithms import _iter
    from dd_graphdb_spark.graph import PropertyGraph
    from dd_graphdb_spark.plans.lower import GQLEngine

    v = spark.createDataFrame(
        [(1, "P", "a"), (2, "P", "b")], "id long, label string, name string"
    )
    e = spark.createDataFrame([(1, 2, "x")], "src long, dst long, label string")
    calls = []
    real = _iter.materialize
    monkeypatch.setattr(_iter, "materialize", lambda df: calls.append(1) or real(df))
    df = GQLEngine(PropertyGraph(v, e)).execute(
        "MATCH p = shortestPath((a {name: 'a'})-[*1..9]->(b)) RETURN p.hops"
    )
    assert [r["p_hops"] for r in df.collect()] == [1]
    # 1 hop-1 checkpoint + one drained round (frontier + best) — far
    # fewer than 9 rounds' worth
    assert len(calls) <= 5


def test_shortest_path_min_hops_above_one_rejected(diamond_graph):
    with pytest.raises(ValueError, match="minimal length"):
        _engine(diamond_graph).execute(
            "MATCH p = shortestPath((a)-[*2..4]->(b)) RETURN p.hops"
        )


def test_shortest_path_zero_hop_identity(diamond_graph):
    df = _engine(diamond_graph).execute(
        "MATCH p = shortestPath((a {name: 'a'})-[*0..3]->(b {name: 'a'})) "
        "RETURN p.hops, p.path"
    )
    r = df.collect()[0]
    assert (r["p_hops"], r["p_path"]) == (0, "1")


def test_shortest_path_same_endpoint_var_rejected(diamond_graph):
    with pytest.raises(ValueError, match="distinct variables"):
        _engine(diamond_graph).execute(
            "MATCH p = shortestPath((a)-[*1..2]->(a)) RETURN p.hops"
        )


def test_round_single_argument(people_graph):
    df = _engine(people_graph).execute(
        "MATCH (v:Person {name: 'Bob'}) RETURN round(v.age / 7.0) AS r"
    )
    assert df.collect()[0]["r"] == 4.0
    with pytest.raises(ValueError, match="argument"):
        _engine(people_graph).execute("MATCH (v:Person) RETURN round() AS r")


def test_exists_in_with_where_passthrough_supported(people_graph):
    # r12: EXISTS in WITH..WHERE semi-joins on the passthrough witness
    rows = _engine(people_graph).execute(
        "MATCH (v:Person) WITH v WHERE EXISTS((v)-[:friend]->(u)) "
        "RETURN v.name AS nm ORDER BY nm"
    ).collect()
    assert [r["nm"] for r in rows] == ["Alice", "Bob"]


def test_create_honors_edge_direction_and_props(spark, tmp_path):
    """ADVICE r7 (high): (a)<-[:r]-(b) must create the edge b->a and
    persist inline edge properties."""
    from dd_graphdb_spark.plans.lower import GQLEngine
    from dd_graphdb_spark.storage import GraphStore
    from dd_graphdb_spark.storage.store import prop_typed

    store = GraphStore(spark, str(tmp_path / "dirp"))
    eng = GQLEngine(store.as_property_graph({"name": "string"}), store=store)
    eng.execute("CREATE (a:P {name: 's'})<-[:r {w: 2}]-(b:P {name: 't'})")
    edges = store.edges().collect()
    assert [(e["src"], e["dst"], e["label"]) for e in edges] == [(2, 1, "r")]
    from pyspark.sql import functions as F

    w = store.edges().select(prop_typed("properties", "w", "long").alias("w")).collect()
    assert w[0]["w"] == 2


def test_merge_incoming_edge_idempotent(spark, tmp_path):
    """ADVICE r7 (high) regression: MERGE (a)<-[:r]-(b) used to create
    the REVERSED edge, so the pattern never matched afterward and every
    re-merge re-created all nodes and edges."""
    from dd_graphdb_spark.plans.lower import GQLEngine
    from dd_graphdb_spark.storage import GraphStore

    store = GraphStore(spark, str(tmp_path / "mdir"))
    eng = lambda: GQLEngine(store.as_property_graph({"name": "string"}), store=store)
    eng().execute("MERGE (a:P {name: 'x'})<-[:r]-(b:P {name: 'y'})")
    assert store.stats() == {"vertex_count": 2, "edge_count": 1, "version": 1}
    # the created edge satisfies the pattern → re-merge binds, no writes
    eng().execute("MERGE (a:P {name: 'x'})<-[:r]-(b:P {name: 'y'})")
    assert store.stats()["version"] == 1
    # and the edge really is y->x
    e = store.edges().collect()[0]
    assert (e["src"], e["dst"]) == (2, 1)


def test_merge_inline_edge_props_idempotent(spark, tmp_path):
    """MERGE with inline edge props: the created edge carries them, so
    a re-merge with the same props binds instead of re-creating."""
    from dd_graphdb_spark.plans.lower import GQLEngine
    from dd_graphdb_spark.storage import GraphStore

    store = GraphStore(spark, str(tmp_path / "mprops"))
    eng = lambda: GQLEngine(
        store.as_property_graph({"name": "string"}, {"w": "long"}), store=store
    )
    eng().execute("MERGE (a:P {name: 'x'})-[:r {w: 2}]->(b:P {name: 'y'})")
    assert store.stats()["version"] == 1
    eng().execute("MERGE (a:P {name: 'x'})-[:r {w: 2}]->(b:P {name: 'y'})")
    assert store.stats()["version"] == 1
    # a DIFFERENT weight is a different pattern → creates a new unit
    eng().execute("MERGE (a:P {name: 'x'})-[:r {w: 3}]->(b:P {name: 'y'})")
    assert store.stats()["version"] == 2


def test_write_pattern_rejects_undirected_and_varlength():
    from dd_graphdb_spark.plans.gql import parse_gql

    with pytest.raises(ValueError, match="directed"):
        parse_gql("CREATE (a:P)-[:r]-(b:P)")
    with pytest.raises(ValueError, match="variable-length"):
        parse_gql("MERGE (a:P)-[:r*1..2]->(b:P)")


# --------------------------------------------------------------------------- r8: path variables / CASE / REMOVE / DETACH DELETE
def test_path_variable_bindings(people_graph):
    df = _engine(people_graph).execute(
        "MATCH p = (a:Person)-[:friend]->(b)-[:friend]->(c) "
        "RETURN a.name AS an, nodes(p) AS ns, relationships(p) AS rels, "
        "length(p) AS len, p.path AS path"
    )
    r = df.collect()[0]
    assert r["an"] == "Alice"
    assert r["ns"] == [1, 2, 3]
    assert r["rels"] == ["friend", "friend"]
    assert (r["len"], r["path"]) == (2, "1->2->3")


def test_path_variable_length_in_where_with_varlength(people_graph):
    df = _engine(people_graph).execute(
        "MATCH p = (a:Person)-[*1..2]->(b) WHERE length(p) = 2 "
        "RETURN a.name AS an, b.name AS bn"
    )
    assert [tuple(r) for r in df.collect()] == [("Alice", "Charlie")]


def test_path_variable_nodes_on_varlength_rejected(people_graph):
    with pytest.raises(ValueError, match="variable-length"):
        _engine(people_graph).execute(
            "MATCH p = (a:Person)-[*1..2]->(b) RETURN nodes(p) AS ns"
        )


def test_path_variable_whole_return_rejected(people_graph):
    with pytest.raises(ValueError, match="path variable"):
        _engine(people_graph).execute(
            "MATCH p = (a:Person)-[:friend]->(b) RETURN p"
        )


def test_path_variable_collision_rejected(people_graph):
    with pytest.raises(ValueError, match="collides"):
        _engine(people_graph).execute(
            "MATCH a = (a:Person)-[:friend]->(b) RETURN length(a) AS l"
        )


def test_nodes_on_non_path_rejected(people_graph):
    with pytest.raises(ValueError, match="path variable"):
        _engine(people_graph).execute(
            "MATCH (v:Person) RETURN nodes(v) AS ns"
        ).collect()


def test_case_expression_in_return_and_where(people_graph):
    df = _engine(people_graph).execute(
        "MATCH (v:Person) "
        "RETURN v.name AS nm, CASE WHEN v.age > 30 THEN 'old' "
        "WHEN v.age > 26 THEN 'mid' ELSE 'young' END AS band ORDER BY nm"
    )
    assert [tuple(r) for r in df.collect()] == [
        ("Alice", "mid"), ("Bob", "young"), ("Charlie", "old"),
    ]
    # CASE compared in WHERE
    df = _engine(people_graph).execute(
        "MATCH (v:Person) WHERE CASE WHEN v.age > 30 THEN 'x' ELSE 'y' END = 'x' "
        "RETURN v.name"
    )
    assert [r["v_name"] for r in df.collect()] == ["Charlie"]


def test_case_no_else_yields_null(people_graph):
    df = _engine(people_graph).execute(
        "MATCH (v:Person {name: 'Bob'}) "
        "RETURN CASE WHEN v.age > 30 THEN 'old' END AS band"
    )
    assert df.collect()[0]["band"] is None


def test_case_parse_errors(people_graph):
    # an operand with no WHEN at all is neither searched nor simple CASE
    with pytest.raises(ValueError, match="CASE needs WHEN"):
        _engine(people_graph).execute(
            "MATCH (v:Person) RETURN CASE v.age END AS x"
        )
    with pytest.raises(ValueError, match="needs END"):
        _engine(people_graph).execute(
            "MATCH (v:Person) RETURN CASE WHEN v.age > 1 THEN 'a' AS x"
        )


def test_remove_vertex_property(spark, tmp_path):
    from dd_graphdb_spark.plans.lower import GQLEngine
    from dd_graphdb_spark.storage import GraphStore
    from dd_graphdb_spark.storage.store import prop_typed

    store = GraphStore(spark, str(tmp_path / "rm"))
    eng = lambda: GQLEngine(
        store.as_property_graph({"name": "string", "age": "long"}), store=store
    )
    eng().execute("CREATE (a:P {name: 'Ann', age: 40})-[:r]->(b:P {name: 'Ben', age: 20})")
    out = eng().execute("MATCH (v:P) WHERE v.age > 30 REMOVE v.age")
    assert [r["id"] for r in out.collect()] == [1]
    rows = {
        r["nm"]: r["age"]
        for r in store.vertices()
        .select(
            prop_typed("properties", "name").alias("nm"),
            prop_typed("properties", "age", "long").alias("age"),
        )
        .collect()
    }
    assert rows == {"Ann": None, "Ben": 20}
    # other keys survive
    assert store.vertices().filter("id = 1").collect()[0]["properties"].keys() >= {"name", "type"}


def test_remove_type_clears_label(spark, tmp_path):
    from dd_graphdb_spark.plans.lower import GQLEngine
    from dd_graphdb_spark.storage import GraphStore

    store = GraphStore(spark, str(tmp_path / "rmt"))
    eng = lambda: GQLEngine(store.as_property_graph({"name": "string"}), store=store)
    eng().execute("CREATE (a:P {name: 'Ann'})")
    eng().execute("MATCH (v:P {name: 'Ann'}) REMOVE v.type")
    row = store.vertices().collect()[0]
    assert row["label"] is None and "type" not in row["properties"]


def test_remove_edge_property(spark, tmp_path):
    from dd_graphdb_spark.plans.lower import GQLEngine
    from dd_graphdb_spark.storage import GraphStore

    store = GraphStore(spark, str(tmp_path / "rme"))
    eng = lambda: GQLEngine(
        store.as_property_graph({"name": "string"}, {"w": "long"}), store=store
    )
    eng().execute("CREATE (a:P {name: 'x'})-[:r {w: 5}]->(b:P {name: 'y'})")
    eng().execute("MATCH (a:P)-[e:r]->(b:P) REMOVE e.w")
    assert store.edges().collect()[0]["properties"] == {}


def test_detach_delete_cascades(spark, tmp_path):
    from dd_graphdb_spark.plans.lower import GQLEngine
    from dd_graphdb_spark.storage import GraphStore

    store = GraphStore(spark, str(tmp_path / "dd"))
    eng = lambda: GQLEngine(
        store.as_property_graph({"name": "string"}), store=store
    )
    eng().execute("CREATE (a:P {name: 'x'})-[:r]->(b:P {name: 'y'})")
    out = eng().execute("MATCH (v:P {name: 'y'}) DETACH DELETE v")
    assert [r["id"] for r in out.collect()] == [2]
    assert store.stats() == {"vertex_count": 1, "edge_count": 0, "version": 2}


def test_shortest_path_rejects_remove_and_detach(diamond_graph):
    with pytest.raises(ValueError, match="read-only"):
        _engine(diamond_graph).execute(
            "MATCH p = shortestPath((a)-[*1..2]->(b)) DETACH DELETE a"
        )
    with pytest.raises(ValueError, match="read-only"):
        _engine(diamond_graph).execute(
            "MATCH p = shortestPath((a)-[*1..2]->(b)) REMOVE a.name"
        )


def test_regex_match_full_string(people_graph):
    # =~ is FULL match (Cypher): 'Ali' alone must not match 'Alice'
    df = _engine(people_graph).execute(
        "MATCH (v:Person) WHERE v.name =~ 'Ali.*' RETURN v.name"
    )
    assert [r["v_name"] for r in df.collect()] == ["Alice"]
    df = _engine(people_graph).execute(
        "MATCH (v:Person) WHERE v.name =~ 'Ali' RETURN v.name"
    )
    assert df.count() == 0
    df = _engine(people_graph).execute(
        "MATCH (v:Person) WHERE v.name =~ '(Bob|Charlie)' RETURN v.name ORDER BY v.name"
    )
    assert [r["v_name"] for r in df.collect()] == ["Bob", "Charlie"]


def test_regex_needs_string_literal(people_graph):
    with pytest.raises(ValueError, match="string literal"):
        _engine(people_graph).execute(
            "MATCH (v:Person) WHERE v.name =~ 5 RETURN v.name"
        )


def test_entity_functions_id_labels_type(people_graph):
    rows = (
        _engine(people_graph)
        .execute(
            "MATCH (a:Person)-[e:friend]->(b:Person) "
            "RETURN id(a) AS aid, labels(a) AS albl, type(e) AS et, id(b) AS bid "
            "ORDER BY aid"
        )
        .collect()
    )
    assert [(r["aid"], r["bid"], r["et"]) for r in rows] == [
        (1, 2, "friend"),
        (2, 3, "friend"),
    ]
    assert all(list(r["albl"]) == ["Person"] for r in rows)


def test_entity_functions_in_where(people_graph):
    rows = (
        _engine(people_graph)
        .execute("MATCH (v:Person) WHERE id(v) = 2 RETURN v.name AS nm")
        .collect()
    )
    assert [r["nm"] for r in rows] == ["Bob"]


def test_entity_functions_reject_property_arg(people_graph):
    with pytest.raises(ValueError, match="bound graph variable"):
        _engine(people_graph).execute(
            "MATCH (v:Person) RETURN id(v.name) AS x"
        )


# --------------------------------------------------------------------------- UNION
def test_union_dedups(people_graph):
    # both branches return Bob (age 25) — plain UNION keeps one row
    df = _engine(people_graph).execute(
        "MATCH (v:Person) WHERE v.age <= 30 RETURN v.name AS nm "
        "UNION MATCH (v:Person) WHERE v.age >= 25 RETURN v.name AS nm"
    )
    assert sorted(r["nm"] for r in df.collect()) == ["Alice", "Bob", "Charlie"]


def test_union_all_keeps_duplicates(people_graph):
    df = _engine(people_graph).execute(
        "MATCH (v:Person) WHERE v.age <= 30 RETURN v.name AS nm "
        "UNION ALL MATCH (v:Person) WHERE v.age >= 25 RETURN v.name AS nm"
    )
    assert sorted(r["nm"] for r in df.collect()) == [
        "Alice", "Alice", "Bob", "Bob", "Charlie",
    ]


def test_union_three_parts(people_graph):
    df = _engine(people_graph).execute(
        "MATCH (v:Person) WHERE v.age = 25 RETURN v.name AS nm "
        "UNION MATCH (v:Person) WHERE v.age = 30 RETURN v.name AS nm "
        "UNION MATCH (v:Person) WHERE v.age = 35 RETURN v.name AS nm"
    )
    assert df.count() == 3


def test_union_rejects_mixed_modes(people_graph):
    with pytest.raises(ValueError, match="cannot mix UNION and UNION ALL"):
        _engine(people_graph).execute(
            "MATCH (v:Person) RETURN v.name AS a "
            "UNION MATCH (v:Person) RETURN v.name AS a "
            "UNION ALL MATCH (v:Person) RETURN v.name AS a"
        )


def test_union_rejects_column_mismatch(people_graph):
    with pytest.raises(ValueError, match="same columns"):
        _engine(people_graph).execute(
            "MATCH (v:Person) RETURN v.name AS a "
            "UNION MATCH (v:Person) RETURN v.name AS b"
        )


def test_union_quantified_all_still_parses(people_graph):
    # ALL became a keyword for UNION ALL — the all() quantifier and
    # identifiers named 'all' must keep working
    df = _engine(people_graph).execute(
        "MATCH (v:Person) WHERE all(x IN [1, 2] WHERE x > 0) "
        "RETURN count(v) AS all"
    )
    assert df.collect()[0]["all"] == 3


# --------------------------------------------------------------------------- allShortestPaths
def test_all_shortest_paths_returns_ties(spark):
    from dd_graphdb_spark.graph import PropertyGraph

    v = spark.createDataFrame([(i, "N") for i in range(1, 6)], "id long, label string")
    # two tied 2-hop routes 1->2->4 / 1->3->4 plus a 3-hop decoy 1->5->2->4
    e = spark.createDataFrame(
        [(1, 2, "x"), (1, 3, "x"), (2, 4, "x"), (3, 4, "x"), (1, 5, "x"), (5, 2, "x")],
        "src long, dst long, label string",
    )
    df = _engine(PropertyGraph(v, e)).execute(
        "MATCH p = allShortestPaths((a {id: 1})-[*1..4]->(b {id: 4})) "
        "RETURN p.hops AS hops, p.path AS path"
    )
    rows = sorted((r["hops"], r["path"]) for r in df.collect())
    assert rows == [(2, "1->2->4"), (2, "1->3->4")]


def test_all_shortest_paths_single_winner_when_unique(diamond_graph):
    df = _engine(diamond_graph).execute(
        "MATCH p = allShortestPaths((a {name: 'a'})-[*1..5]->(b {name: 'd'})) "
        "RETURN p.path AS path"
    )
    assert [r["path"] for r in df.collect()] == ["1->4"]


# --------------------------------------------------------------------------- temporal
@pytest.fixture()
def event_graph(spark):
    import datetime

    from dd_graphdb_spark.graph import PropertyGraph

    v = spark.createDataFrame(
        [
            (1, "Event", datetime.datetime(2024, 3, 5, 14, 30, 15)),
            (2, "Event", datetime.datetime(2023, 12, 31, 23, 59, 59)),
        ],
        "id long, label string, ts timestamp",
    )
    e = spark.createDataFrame([], "src long, dst long, label string")
    return PropertyGraph(v, e)


def test_temporal_components(event_graph):
    rows = (
        _engine(event_graph)
        .execute(
            "MATCH (e:Event) RETURN e.ts.year AS y, e.ts.quarter AS q, "
            "e.ts.month AS mo, e.ts.day AS d, e.ts.hour AS h, "
            "e.ts.minute AS mi, e.ts.second AS s, e.ts.dayofweek AS dow "
            "ORDER BY y"
        )
        .collect()
    )
    # 2023-12-31 is a Sunday (ISO dow 7); 2024-03-05 a Tuesday (2)
    assert (rows[0]["y"], rows[0]["mo"], rows[0]["dow"]) == (2023, 12, 7)
    assert (rows[1]["y"], rows[1]["q"], rows[1]["mo"], rows[1]["d"]) == (2024, 1, 3, 5)
    assert (rows[1]["h"], rows[1]["mi"], rows[1]["s"], rows[1]["dow"]) == (14, 30, 15, 2)


def test_temporal_conversions_and_duration(event_graph):
    rows = (
        _engine(event_graph)
        .execute(
            "MATCH (e:Event) "
            "WHERE e.ts >= datetime('2024-01-01T00:00:00') "
            "RETURN date(e.ts) AS d, (e.ts + duration('P1DT2H')).day AS nd"
        )
        .collect()
    )
    assert len(rows) == 1
    assert str(rows[0]["d"]) == "2024-03-05" and rows[0]["nd"] == 6


def test_temporal_postfix_on_parenthesized(event_graph):
    rows = (
        _engine(event_graph)
        .execute(
            "MATCH (e:Event) RETURN (e.ts - duration('PT2H30M')).hour AS h "
            "ORDER BY h"
        )
        .collect()
    )
    assert [r["h"] for r in rows] == [12, 21]


def test_duration_rejects_non_literal(event_graph):
    with pytest.raises(ValueError, match="ISO-8601 string literal"):
        _engine(event_graph).execute(
            "MATCH (e:Event) RETURN e.ts + duration(e.ts) AS x"
        )


def test_duration_rejects_malformed(event_graph):
    with pytest.raises(ValueError, match="not an ISO-8601"):
        _engine(event_graph).execute(
            "MATCH (e:Event) RETURN e.ts + duration('3 days') AS x"
        )


def test_property_named_like_component_still_property(spark):
    # v.year must read the PROPERTY year (first dot = property access);
    # only a SECOND dot reaches temporal components
    from dd_graphdb_spark.graph import PropertyGraph

    v = spark.createDataFrame(
        [(1, "Y", 1999)], "id long, label string, year long"
    )
    e = spark.createDataFrame([], "src long, dst long, label string")
    rows = (
        _engine(PropertyGraph(v, e))
        .execute("MATCH (v:Y) RETURN v.year AS y")
        .collect()
    )
    assert rows[0]["y"] == 1999


def test_reduce_int_init_with_long_property(people_graph):
    # fuzzer-found regression: integer init must widen to LONG so the
    # merge lambda's BIGINT output matches the accumulator type
    rows = (
        _engine(people_graph)
        .execute(
            "MATCH (v:Person) "
            "RETURN v.name AS nm, reduce(acc = 0, t IN [0, 2] | acc + t * v.age) AS r "
            "ORDER BY nm"
        )
        .collect()
    )
    assert [(r["nm"], r["r"]) for r in rows] == [
        ("Alice", 60), ("Bob", 50), ("Charlie", 70),
    ]


# --------------------------------------------------------------------------- FOREACH
def test_foreach_marks_path_nodes(spark, tmp_path):
    from dd_graphdb_spark.plans.lower import GQLEngine
    from dd_graphdb_spark.storage import GraphStore
    from dd_graphdb_spark.storage.store import prop_typed

    store = GraphStore(spark, str(tmp_path / "store"))

    def engine():
        return GQLEngine(
            store.as_property_graph({"name": "string", "marked": "long"}),
            store=store,
        )

    engine().execute("CREATE (a:P {name: 'a'})-[:r]->(b:P {name: 'b'})")
    engine().execute("CREATE (c:P {name: 'c'})")
    before = store.version
    touched = engine().execute(
        "MATCH p = (a:P {name: 'a'})-[:r]->(b:P) "
        "FOREACH (n IN nodes(p) | SET n.marked = 1)"
    )
    assert sorted(r["id"] for r in touched.collect()) == [1, 2]
    assert store.version == before + 1  # ONE snapshot version
    got = {
        r["id"]: r["m"]
        for r in store.vertices()
        .select("id", prop_typed("properties", "marked", "long").alias("m"))
        .collect()
    }
    assert got == {1: 1, 2: 1, 3: None}


def test_foreach_literal_list_and_duplicate_prop_last_wins(spark, tmp_path):
    from dd_graphdb_spark.plans.lower import GQLEngine
    from dd_graphdb_spark.storage import GraphStore
    from dd_graphdb_spark.storage.store import prop_typed

    store = GraphStore(spark, str(tmp_path / "store"))

    def engine():
        return GQLEngine(
            store.as_property_graph({"name": "string", "m": "long"}), store=store
        )

    engine().execute("CREATE (a:P {name: 'a'})")
    engine().execute(
        "MATCH (v:P) FOREACH (x IN [1] | SET x.m = 5, x.m = 7)"
    )
    got = store.vertices().select(
        prop_typed("properties", "m", "long").alias("m")
    ).collect()
    assert got[0]["m"] == 7  # sequential Cypher semantics: last write wins


def test_foreach_rejects_non_set_body_and_wrong_target(people_graph):
    with pytest.raises(ValueError, match="SET, CREATE and MERGE"):
        _engine(people_graph).execute(
            "MATCH (v:Person) FOREACH (x IN [1] | DELETE x)"
        )
    with pytest.raises(ValueError, match="targets the loop variable"):
        _engine(people_graph).execute(
            "MATCH (v:Person) FOREACH (x IN [1] | SET v.age = 1)"
        )


def test_foreach_on_shortest_path_rejected(diamond_graph):
    with pytest.raises(ValueError, match="read-only"):
        _engine(diamond_graph).execute(
            "MATCH p = shortestPath((a)-[*1..2]->(b)) "
            "FOREACH (n IN nodes(p) | SET n.m = 1)"
        )


# ------------------------------------------------------------- expression SET
def _set_store(spark, tmp_path, vprops=None, eprops=None):
    from dd_graphdb_spark.plans.lower import GQLEngine
    from dd_graphdb_spark.storage import GraphStore

    store = GraphStore(spark, str(tmp_path / "store"))

    def engine():
        return GQLEngine(
            store.as_property_graph(
                vprops or {"name": "string", "age": "long", "tag": "string"},
                eprops,
            ),
            store=store,
        )

    return store, engine


def test_set_expression_values_one_version(spark, tmp_path):
    from dd_graphdb_spark.storage.store import prop_typed

    store, engine = _set_store(spark, tmp_path)
    engine().execute(
        "CREATE (a:P {name: 'ann', age: 40})-[:r]->(b:P {name: 'ben', age: 20})"
    )
    before = store.version
    engine().execute(
        "MATCH (v:P) SET v.age = v.age + 1, v.name = toUpper(v.name)"
    )
    assert store.version == before + 1  # one version for both assignments
    got = {
        r["name"]: r["age"]
        for r in store.vertices()
        .select(
            prop_typed("properties", "name").alias("name"),
            prop_typed("properties", "age", "long").alias("age"),
        )
        .collect()
    }
    assert got == {"ANN": 41, "BEN": 21}


def test_set_plus_equals_map_merge_keeps_unlisted_keys(spark, tmp_path):
    from dd_graphdb_spark.storage.store import prop_typed

    store, engine = _set_store(spark, tmp_path)
    engine().execute("CREATE (a:P {name: 'ann', age: 40})")
    engine().execute("MATCH (v:P) SET v += {tag: toLower('HOT'), age: v.age * 2}")
    row = (
        store.vertices()
        .select(
            prop_typed("properties", "name").alias("name"),
            prop_typed("properties", "age", "long").alias("age"),
            prop_typed("properties", "tag").alias("tag"),
        )
        .collect()[0]
    )
    assert (row["name"], row["age"], row["tag"]) == ("ann", 80, "hot")


def test_set_null_removes_key_and_empty_merge_noops(spark, tmp_path):
    import pyspark.sql.functions as F

    store, engine = _set_store(spark, tmp_path)
    engine().execute("CREATE (a:P {name: 'ann', age: 40})")
    engine().execute("MATCH (v:P) SET v.age = null")
    assert (
        store.vertices()
        .select(F.map_contains_key("properties", "age").alias("h"))
        .collect()[0]["h"]
        is False
    )
    before = store.version
    engine().execute("MATCH (v:P) SET v += {}")  # Cypher no-op
    assert store.version == before  # no version commit


def test_set_edge_expression_cross_variable(spark, tmp_path):
    from dd_graphdb_spark.storage.store import prop_typed

    store, engine = _set_store(
        spark, tmp_path,
        {"name": "string", "age": "long"}, {"weight": "long"},
    )
    engine().execute(
        "CREATE (a:P {name: 'a', age: 40})-[:r {weight: 3}]->"
        "(b:P {name: 'b', age: 20})"
    )
    engine().execute("MATCH (x)-[e:r]->(y) SET e.weight = e.weight * 2 + y.age")
    assert (
        store.edges()
        .select(prop_typed("properties", "weight", "long").alias("w"))
        .collect()[0]["w"]
        == 26
    )


def test_set_edge_label_rejected(spark, tmp_path):
    store, engine = _set_store(spark, tmp_path, {"name": "string"}, {})
    engine().execute("CREATE (a:P {name: 'a'})-[:r]->(b:P {name: 'b'})")
    with pytest.raises(ValueError, match="part of its identity"):
        engine().execute("MATCH (x)-[e:r]->(y) SET e.label = toUpper('z')")


def test_merge_on_match_set_edge_label_rejected_remove_accepted(spark, tmp_path):
    # the refusal is SET's alone: REMOVE e.label shares the write path
    # and stays a no-op on the identity label
    store, engine = _set_store(spark, tmp_path, {"name": "string"}, {})
    engine().execute("CREATE (a:P {name: 'a'})-[:r]->(b:P {name: 'b'})")
    with pytest.raises(ValueError, match="part of its identity"):
        engine().execute(
            "MERGE (x:P {name: 'a'})-[e:r]->(y:P {name: 'b'}) "
            "ON MATCH SET e.label = 'z'"
        )
    engine().execute("MATCH (x)-[e:r]->(y) REMOVE e.label")
    assert [r["label"] for r in store.edges().collect()] == ["r"]


def test_set_string_escapes_roundtrip(spark, tmp_path):
    # render_json_value must produce json.dumps-compatible escapes so
    # prop_typed decodes computed strings exactly
    from dd_graphdb_spark.storage.store import prop_typed

    store, engine = _set_store(spark, tmp_path)
    engine().execute("CREATE (a:P {name: 'say \"hi\"', age: 1})")
    engine().execute("MATCH (v:P) SET v.tag = toUpper(v.name)")
    assert (
        store.vertices()
        .select(prop_typed("properties", "tag").alias("t"))
        .collect()[0]["t"]
        == 'SAY "HI"'
    )


def test_set_computed_type_resyncs_label(spark, tmp_path):
    store, engine = _set_store(spark, tmp_path)
    engine().execute("CREATE (a:P {name: 'ann', age: 40})")
    engine().execute("MATCH (v:P) SET v.type = toUpper('person')")
    assert store.vertices().collect()[0]["label"] == "PERSON"


def test_set_literal_bool_type_label_matches_property(spark, tmp_path):
    # a literal and a computed value take one path: the label is the
    # unquoted stored `type`, 'true' — not Python's str(True)
    from dd_graphdb_spark.storage.store import prop_typed

    store, engine = _set_store(spark, tmp_path)
    engine().execute("CREATE (a:P {name: 'ann', age: 40})")
    engine().execute("MATCH (v:P) SET v.type = true")
    row = store.vertices().select(
        "label", prop_typed("properties", "type").alias("t")
    ).collect()[0]
    assert row["label"] == row["t"] == "true"


def test_foreach_expression_body_from_outer_binding(spark, tmp_path):
    from dd_graphdb_spark.storage.store import prop_typed

    store, engine = _set_store(spark, tmp_path)
    engine().execute("CREATE (a:P {name: 'ANN', age: 1})-[:r]->(b:P {name: 'BEN', age: 2})")
    engine().execute(
        "MATCH p = (a:P {name: 'ANN'})-[:r]->(b:P) "
        "FOREACH (n IN nodes(p) | SET n.tag = toLower(a.name))"
    )
    got = {
        r["name"]: r["tag"]
        for r in store.vertices()
        .select(
            prop_typed("properties", "name").alias("name"),
            prop_typed("properties", "tag").alias("tag"),
        )
        .collect()
    }
    assert got == {"ANN": "ann", "BEN": "ann"}


def test_foreach_multi_key_set_takes_one_binding_row(spark, tmp_path):
    # b is on two paths, a->b (s.k=1: x=1, y=9) and b->c (s.k=2: x=2,
    # y=8); both keys must come from ONE of them, the same pair that
    # MATCH..SET's witness picks over the same binding rows
    from dd_graphdb_spark.storage.store import prop_typed

    def pairs(name, stmt):
        store, engine = _set_store(spark, tmp_path / name, {"k": "long"})
        engine().execute("CREATE (a:P {k: 1})-[:r]->(b:P {k: 2})-[:r]->(c:P {k: 3})")
        engine().execute(stmt)
        got = store.vertices().select(
            *[prop_typed("properties", c, "long").alias(c) for c in ("k", "x", "y")]
        )
        return {r["k"]: (r["x"], r["y"]) for r in got.collect()}

    fe = pairs(
        "foreach",
        "MATCH p = (s:P)-[:r]->(t:P) "
        "FOREACH (n IN nodes(p) | SET n.x = s.k, n.y = 10 - s.k)",
    )
    assert fe[2] in {(1, 9), (2, 8)}
    ms = pairs(
        "match_set",
        "MATCH (s:P)-[:r*0..1]->(n:P) WHERE s.k < 3 "
        "SET n.x = s.k, n.y = 10 - s.k",
    )
    assert fe == ms == {1: (1, 9), 2: (2, 8), 3: (2, 8)}


# -------------------------------------------- COUNT{} in post-WITH positions
@pytest.fixture()
def people_edges_graph(spark):
    from dd_graphdb_spark.graph import PropertyGraph

    v = spark.createDataFrame(
        [
            (1, "Person", "Alice", 30),
            (2, "Person", "Bob", 25),
            (3, "Person", "Charlie", 35),
        ],
        "id long, label string, name string, age long",
    )
    e = spark.createDataFrame(
        [(1, 2, "knows"), (1, 3, "knows"), (2, 3, "knows")],
        "src long, dst long, label string",
    )
    return PropertyGraph(v, e)


def test_count_sub_in_with_where(people_edges_graph):
    rows = (
        _engine(people_edges_graph)
        .execute(
            "MATCH (a:Person) WITH a "
            "WHERE COUNT { (a)-[:knows]->(x) } >= 1 "
            "RETURN a.name AS nm ORDER BY nm"
        )
        .collect()
    )
    assert [r["nm"] for r in rows] == ["Alice", "Bob"]


def test_count_sub_in_post_with_return(people_edges_graph):
    rows = (
        _engine(people_edges_graph)
        .execute(
            "MATCH (a:Person) WITH a, a.age AS ag WHERE ag >= 25 "
            "RETURN a.name AS nm, COUNT { (a)-[:knows]->(x) } AS deg "
            "ORDER BY nm"
        )
        .collect()
    )
    assert [(r["nm"], r["deg"]) for r in rows] == [
        ("Alice", 2), ("Bob", 1), ("Charlie", 0),
    ]


def test_pattern_comprehension_post_with_distinct(people_edges_graph):
    rows = (
        _engine(people_edges_graph)
        .execute(
            "MATCH (a:Person)-[:knows]->(b) WITH DISTINCT a "
            "RETURN a.name AS nm, [ (a)-[:knows]->(y) | y.name ] AS ns "
            "ORDER BY nm"
        )
        .collect()
    )
    assert [(r["nm"], r["ns"]) for r in rows] == [
        ("Alice", ["Bob", "Charlie"]), ("Bob", ["Charlie"]),
    ]


def test_count_sub_after_aggregating_with_rejected(people_edges_graph):
    with pytest.raises(ValueError, match="AGGREGATING WITH"):
        _engine(people_edges_graph).execute(
            "MATCH (a:Person) WITH count(a) AS c "
            "WHERE COUNT { (a)-[:knows]->(x) } > 0 RETURN c"
        )


# ------------------------------------------------------ correlated CALL { }
def test_call_correlated_aggregating_left_join(people_edges_graph):
    rows = (
        _engine(people_edges_graph)
        .execute(
            "MATCH (a:Person) CALL { WITH a MATCH (a)-[:knows]->(x) "
            "RETURN count(x) AS deg, collect(x.name) AS ns } "
            "RETURN a.name AS nm, deg, ns ORDER BY nm"
        )
        .collect()
    )
    # Charlie has no out-edges: count coalesces to 0, collect to []
    assert [(r["nm"], r["deg"], list(r["ns"])) for r in rows] == [
        ("Alice", 2, ["Bob", "Charlie"]),
        ("Bob", 1, ["Charlie"]),
        ("Charlie", 0, []),
    ]


def test_call_correlated_streaming_inner_join(people_edges_graph):
    rows = (
        _engine(people_edges_graph)
        .execute(
            "MATCH (a:Person) CALL { WITH a MATCH (a)-[:knows]->(x) "
            "RETURN x.name AS xn } "
            "RETURN a.name AS nm, xn ORDER BY nm, xn"
        )
        .collect()
    )
    # Charlie drops (Cypher: empty subquery result removes the row)
    assert [(r["nm"], r["xn"]) for r in rows] == [
        ("Alice", "Bob"), ("Alice", "Charlie"), ("Bob", "Charlie"),
    ]


def test_call_correlated_body_where_cross_variable(people_edges_graph):
    rows = (
        _engine(people_edges_graph)
        .execute(
            "MATCH (a:Person) CALL { WITH a MATCH (a)-[:knows]->(x) "
            "WHERE x.age > a.age RETURN count(x) AS older } "
            "RETURN a.name AS nm, older ORDER BY nm"
        )
        .collect()
    )
    assert [(r["nm"], r["older"]) for r in rows] == [
        ("Alice", 1), ("Bob", 1), ("Charlie", 0),
    ]


def test_call_correlated_output_through_with_and_outer_agg(people_edges_graph):
    eng = _engine(people_edges_graph)
    rows = eng.execute(
        "MATCH (a:Person) CALL { WITH a MATCH (a)-[:knows]->(x) "
        "RETURN count(x) AS deg } "
        "WITH a, deg WHERE deg >= 1 RETURN a.name AS nm, deg ORDER BY nm"
    ).collect()
    assert [(r["nm"], r["deg"]) for r in rows] == [("Alice", 2), ("Bob", 1)]
    total = eng.execute(
        "MATCH (a:Person) CALL { WITH a MATCH (a)-[:knows]->(x) "
        "RETURN count(x) AS deg } RETURN sum(deg) AS total"
    ).collect()[0]["total"]
    assert total == 3


def test_call_correlated_mixed_grouped_body_inner_joins(people_edges_graph):
    """A body mixing non-aggregated grouping items with aggregates is a
    grouped aggregation: over empty input it yields ZERO groups, so an
    outer row with no body matches drops (no fabricated (NULL, 0) row —
    ADVICE r10)."""
    rows = (
        _engine(people_edges_graph)
        .execute(
            "MATCH (a:Person) CALL { WITH a MATCH (a)-[:knows]->(x) "
            "RETURN x.name AS xn, count(*) AS c } "
            "RETURN a.name AS nm, xn, c ORDER BY nm, xn"
        )
        .collect()
    )
    # Charlie has no out-edges: grouped body -> zero groups -> row drops
    assert [(r["nm"], r["xn"], r["c"]) for r in rows] == [
        ("Alice", "Bob", 1),
        ("Alice", "Charlie", 1),
        ("Bob", "Charlie", 1),
    ]


def test_call_correlated_sum_coalesces_min_stays_null(people_edges_graph):
    """Empty-group identities in a pure-aggregate body: sum() over zero
    rows is 0 (like count), while min/max/avg stay NULL."""
    rows = (
        _engine(people_edges_graph)
        .execute(
            "MATCH (a:Person) CALL { WITH a MATCH (a)-[:knows]->(x) "
            "RETURN sum(x.age) AS s, min(x.age) AS mn } "
            "RETURN a.name AS nm, s, mn ORDER BY nm"
        )
        .collect()
    )
    assert [(r["nm"], r["s"], r["mn"]) for r in rows] == [
        ("Alice", 60, 25),
        ("Bob", 35, 35),
        ("Charlie", 0, None),
    ]


def test_pattern_comprehension_map_projection_elements(people_edges_graph):
    """[(a)-->(u) | u {.name, .age}] — map-projection elements inside a
    pattern comprehension render as JSON strings (source prop order),
    sorted ascending, [] for no matches (r11 stretch)."""
    rows = (
        _engine(people_edges_graph)
        .execute(
            "MATCH (a:Person) RETURN a.name AS nm, "
            "[(a)-[:knows]->(u) | u {.name, .age}] AS ms ORDER BY nm"
        )
        .collect()
    )
    assert [(r["nm"], list(r["ms"])) for r in rows] == [
        ("Alice", ['{"name":"Bob","age":25}', '{"name":"Charlie","age":35}']),
        ("Bob", ['{"name":"Charlie","age":35}']),
        ("Charlie", []),
    ]


def test_nested_count_inside_exists_body(people_edges_graph):
    """COUNT{} nested in an EXISTS body's WHERE: the count attaches to
    the EXISTS frame as a grouped join, then the frame semi-joins the
    outer bindings — derived tables all the way down, no correlated
    re-execution (SURVEY §14 known-unsupported, closed r11)."""
    rows = (
        _engine(people_edges_graph)
        .execute(
            "MATCH (a:Person) WHERE EXISTS { (a)-[:knows]->(x) "
            "WHERE COUNT { (x)-[:knows]->(y) } >= 1 } "
            "RETURN a.name AS nm ORDER BY nm"
        )
        .collect()
    )
    assert [r["nm"] for r in rows] == ["Alice"]


def test_nested_exists_inside_exists_body(people_edges_graph):
    rows = (
        _engine(people_edges_graph)
        .execute(
            "MATCH (a:Person) WHERE EXISTS { (a)-[:knows]->(x) "
            "WHERE EXISTS { (x)-[:knows]->(y) } } "
            "RETURN a.name AS nm ORDER BY nm"
        )
        .collect()
    )
    assert [r["nm"] for r in rows] == ["Alice"]


def test_nested_count_inside_count_body(people_edges_graph):
    rows = (
        _engine(people_edges_graph)
        .execute(
            "MATCH (a:Person) RETURN a.name AS nm, "
            "COUNT { (a)-[:knows]->(x) "
            "WHERE COUNT { (x)-[:knows]->(y) } = 0 } AS c ORDER BY nm"
        )
        .collect()
    )
    assert [(r["nm"], r["c"]) for r in rows] == [
        ("Alice", 1), ("Bob", 1), ("Charlie", 0),
    ]


def test_nested_count_inside_call_body_where(people_edges_graph):
    rows = (
        _engine(people_edges_graph)
        .execute(
            "MATCH (a:Person) CALL { WITH a MATCH (a)-[:knows]->(x) "
            "WHERE COUNT { (x)-[:knows]->(y) } = 0 "
            "RETURN count(x) AS c } RETURN a.name AS nm, c ORDER BY nm"
        )
        .collect()
    )
    assert [(r["nm"], r["c"]) for r in rows] == [
        ("Alice", 1), ("Bob", 1), ("Charlie", 0),
    ]


def test_nested_count_inside_call_body_return(people_edges_graph):
    rows = (
        _engine(people_edges_graph)
        .execute(
            "MATCH (a:Person) CALL { WITH a MATCH (a)-[:knows]->(x) "
            "RETURN x.name AS xn, COUNT { (x)-[:knows]->(y) } AS xdeg } "
            "RETURN a.name AS nm, xn, xdeg ORDER BY nm, xn"
        )
        .collect()
    )
    assert [(r["nm"], r["xn"], r["xdeg"]) for r in rows] == [
        ("Alice", "Bob", 1), ("Alice", "Charlie", 0), ("Bob", "Charlie", 0),
    ]


def test_call_correlated_topk_per_outer_row(people_edges_graph):
    """ORDER BY .. LIMIT inside a correlated CALL body is per-OUTER-ROW
    top-k (one row_number window over the derived table, no per-row
    body re-execution)."""
    rows = (
        _engine(people_edges_graph)
        .execute(
            "MATCH (a:Person) CALL { WITH a MATCH (a)-[:knows]->(x) "
            "RETURN x.name AS xn, x.age AS ag ORDER BY ag DESC LIMIT 1 } "
            "RETURN a.name AS nm, xn, ag ORDER BY nm"
        )
        .collect()
    )
    # oldest known-person per source; Charlie (no out-edges) drops
    assert [(r["nm"], r["xn"], r["ag"]) for r in rows] == [
        ("Alice", "Charlie", 35),
        ("Bob", "Charlie", 35),
    ]


def test_call_correlated_order_skip_window(people_edges_graph):
    rows = (
        _engine(people_edges_graph)
        .execute(
            "MATCH (a:Person) CALL { WITH a MATCH (a)-[:knows]->(x) "
            "RETURN x.name AS xn ORDER BY xn ASC SKIP 1 } "
            "RETURN a.name AS nm, xn ORDER BY nm, xn"
        )
        .collect()
    )
    # Alice's sorted [Bob, Charlie] skips Bob; Bob's single row skips out
    assert [(r["nm"], r["xn"]) for r in rows] == [("Alice", "Charlie")]


def test_call_correlated_pure_agg_skip_drops_all(people_edges_graph):
    """Pure-aggregate body with SKIP 1: the single per-group row always
    skips out, so the whole result is empty (Cypher: the body returns
    one row; SKIP 1 empties it; CALL cardinality drops every outer
    row). LIMIT 1 on the same body is a no-op and keeps the empty-group
    coalesce."""
    eng = _engine(people_edges_graph)
    assert (
        eng.execute(
            "MATCH (a:Person) CALL { WITH a MATCH (a)-[:knows]->(x) "
            "RETURN count(x) AS c SKIP 1 } RETURN a.name AS nm, c"
        ).count()
        == 0
    )
    rows = eng.execute(
        "MATCH (a:Person) CALL { WITH a MATCH (a)-[:knows]->(x) "
        "RETURN count(x) AS c LIMIT 1 } RETURN a.name AS nm, c ORDER BY nm"
    ).collect()
    assert [(r["nm"], r["c"]) for r in rows] == [
        ("Alice", 2), ("Bob", 1), ("Charlie", 0),
    ]


def test_call_correlated_parse_errors(people_edges_graph):
    eng = _engine(people_edges_graph)
    cases = [
        ("MATCH (a:Person) CALL { WITH z MATCH (z)-[:knows]->(x) "
         "RETURN count(x) AS c } RETURN c", "unknown variable"),
        ("MATCH (a:Person) CALL { WITH a MATCH (y:Person)-[:knows]->(x) "
         "RETURN count(x) AS c } RETURN c", "not used in the body"),
        ("MATCH (a:Person) CALL { WITH a MATCH (a)-[:knows]->(x) "
         "RETURN x.name AS xn LIMIT 1 } RETURN xn", "needs ORDER BY"),
        ("MATCH (a:Person) CALL { WITH a MATCH (a)-[:knows]->(x) "
         "RETURN count(x) } RETURN nm", "AS alias"),
        ("MATCH (a:Person) CALL { MATCH (y:Person) RETURN count(y) AS c } "
         "RETURN c", "must import"),
    ]
    for q, frag in cases:
        with pytest.raises(ValueError, match=frag):
            eng.execute(q)


def test_call_body_with_pure_agg_seeds_empty_groups(people_edges_graph):
    """A pure-aggregate WITH inside the body yields one row per outer
    binding even over empty input (Cypher per-row execution) — the
    streaming RETURN after it must therefore keep Charlie with n=0."""
    rows = (
        _engine(people_edges_graph)
        .execute(
            "MATCH (a:Person) CALL { WITH a MATCH (a)-[:knows]->(x) "
            "WITH count(x) AS n RETURN n } "
            "RETURN a.name AS nm, n ORDER BY nm"
        )
        .collect()
    )
    assert [(r["nm"], r["n"]) for r in rows] == [
        ("Alice", 2), ("Bob", 1), ("Charlie", 0),
    ]


def test_call_body_with_having_filter(people_edges_graph):
    """WITH .. WHERE (the HAVING idiom) filters per outer binding —
    the seeded n=0/n=1 rows fail the predicate, dropping those outer
    rows at the final INNER join."""
    rows = (
        _engine(people_edges_graph)
        .execute(
            "MATCH (a:Person) CALL { WITH a MATCH (a)-[:knows]->(x) "
            "WITH count(x) AS n WHERE n >= 2 RETURN n } "
            "RETURN a.name AS nm, n"
        )
        .collect()
    )
    assert [(r["nm"], r["n"]) for r in rows] == [("Alice", 2)]


def test_call_body_with_topk_then_collect(people_edges_graph):
    """WITH ORDER BY .. LIMIT ranks per imported-id group (not
    globally); the following collect() aggregates the per-group
    survivors — Bob's top-1 is Charlie, NOT dropped by Alice's rows."""
    rows = (
        _engine(people_edges_graph)
        .execute(
            "MATCH (a:Person) CALL { WITH a MATCH (a)-[:knows]->(x) "
            "WITH x.name AS xn ORDER BY xn DESC LIMIT 1 "
            "RETURN collect(xn) AS top } "
            "RETURN a.name AS nm, top ORDER BY nm"
        )
        .collect()
    )
    assert [(r["nm"], r["top"]) for r in rows] == [
        ("Alice", ["Charlie"]), ("Bob", ["Charlie"]), ("Charlie", []),
    ]


def test_call_body_with_passthrough_post_clause(people_edges_graph):
    """Whole-variable passthrough keeps binding columns, so a post-WITH
    MATCH clause inside the body joins on them; witnesses ride along
    (Alice's x∈{Bob,Charlie} with Bob-knows-Charlie → 1)."""
    rows = (
        _engine(people_edges_graph)
        .execute(
            "MATCH (a:Person) CALL { WITH a MATCH (a)-[:knows]->(x) "
            "WITH x WHERE x.age >= 25 MATCH (x)-[:knows]->(y) "
            "RETURN count(y) AS k } "
            "RETURN a.name AS nm, k ORDER BY nm"
        )
        .collect()
    )
    assert [(r["nm"], r["k"]) for r in rows] == [
        ("Alice", 1), ("Bob", 0), ("Charlie", 0),
    ]


def test_call_body_with_unwind(people_edges_graph):
    """Post-WITH UNWIND inside the body explodes per outer binding;
    UNWIND over the seeded empty list yields zero rows, so Charlie
    drops (streaming RETURN → INNER join)."""
    rows = (
        _engine(people_edges_graph)
        .execute(
            "MATCH (a:Person) CALL { WITH a MATCH (a)-[:knows]->(x) "
            "WITH collect(x.age) AS ages UNWIND ages AS ag "
            "RETURN ag } "
            "RETURN a.name AS nm, ag ORDER BY nm, ag"
        )
        .collect()
    )
    assert [(r["nm"], r["ag"]) for r in rows] == [
        ("Alice", 25), ("Alice", 35), ("Bob", 35),
    ]


def test_optional_call_streaming_null_fill(people_edges_graph):
    """OPTIONAL CALL keeps outer rows whose streaming body produced
    nothing, NULL-filling the body outputs (Cypher 25)."""
    rows = (
        _engine(people_edges_graph)
        .execute(
            "MATCH (a:Person) OPTIONAL CALL { WITH a "
            "MATCH (a)-[:knows]->(x) RETURN x.name AS xn } "
            "RETURN a.name AS nm, xn ORDER BY nm, xn"
        )
        .collect()
    )
    assert [(r["nm"], r["xn"]) for r in rows] == [
        ("Alice", "Bob"), ("Alice", "Charlie"),
        ("Bob", "Charlie"), ("Charlie", None),
    ]


def test_optional_call_having_null_vs_inner_drop(people_edges_graph):
    """The HAVING pipeline drops Bob/Charlie's body rows; OPTIONAL
    keeps the outer rows with NULL where plain CALL drops them."""
    eng = _engine(people_edges_graph)
    opt = eng.execute(
        "MATCH (a:Person) OPTIONAL CALL { WITH a "
        "MATCH (a)-[:knows]->(x) WITH count(x) AS n WHERE n >= 2 "
        "RETURN n } RETURN a.name AS nm, n ORDER BY nm"
    ).collect()
    assert [(r["nm"], r["n"]) for r in opt] == [
        ("Alice", 2), ("Bob", None), ("Charlie", None),
    ]


def test_optional_call_pure_agg_is_noop(people_edges_graph):
    """A pure-aggregate body already yields one row per outer row, so
    OPTIONAL changes nothing (count coalesces to 0, not NULL — Neo4j)."""
    rows = (
        _engine(people_edges_graph)
        .execute(
            "MATCH (a:Person) OPTIONAL CALL { WITH a "
            "MATCH (a)-[:knows]->(x) RETURN count(x) AS c } "
            "RETURN a.name AS nm, c ORDER BY nm"
        )
        .collect()
    )
    assert [(r["nm"], r["c"]) for r in rows] == [
        ("Alice", 2), ("Bob", 1), ("Charlie", 0),
    ]


def test_optional_call_after_optional_match(people_edges_graph):
    """OPTIONAL MATCH clauses still parse before an OPTIONAL CALL (the
    clause loop must stop at OPTIONAL CALL, not swallow its OPTIONAL)."""
    rows = (
        _engine(people_edges_graph)
        .execute(
            "MATCH (a:Person {name: 'Charlie'}) "
            "OPTIONAL MATCH (a)-[:knows]->(m) "
            "OPTIONAL CALL { WITH a MATCH (a)-[:knows]->(x) "
            "RETURN x.name AS xn } "
            "RETURN a.name AS nm, m.name AS mn, xn"
        )
        .collect()
    )
    assert [(r["nm"], r["mn"], r["xn"]) for r in rows] == [
        ("Charlie", None, None),
    ]


def test_query_parameters(people_edges_graph):
    """$name parameters (Cypher convention): token-level literal
    substitution — legal exactly where literals are, embedded quotes
    survive, unbound/unsupported values raise before parsing."""
    eng = _engine(people_edges_graph)
    assert sorted(
        r[0] for r in eng.execute(
            "MATCH (n:Person) WHERE n.age > $min RETURN n.name",
            params={"min": 26},
        ).collect()
    ) == ["Alice", "Charlie"]
    assert [r[0] for r in eng.execute(
        "MATCH (n:Person {name: $who}) RETURN n.age", params={"who": "Bob"}
    ).collect()] == [25]
    assert sorted(
        r[0] for r in eng.execute(
            "MATCH (n:Person) WHERE n.name IN $names RETURN n.age",
            params={"names": ["Alice", "Charlie"]},
        ).collect()
    ) == [30, 35]
    assert [r[0] for r in eng.execute(
        "MATCH (n:Person) RETURN n.name ORDER BY n.age DESC LIMIT $k",
        params={"k": 1},
    ).collect()] == ["Charlie"]
    # embedded quote survives (str tokens strip quotes, no re-lexing)
    assert eng.execute(
        "MATCH (n:Person {name: $q}) RETURN n.age", params={"q": "O'Hara"}
    ).count() == 0
    with pytest.raises(ValueError, match="not bound"):
        eng.execute("MATCH (n) WHERE n.age > $min RETURN n.name")
    with pytest.raises(ValueError, match="unsupported type"):
        eng.execute(
            "MATCH (n) WHERE n.age > $min RETURN n.name",
            params={"min": {"a": 1}},
        )


def test_inline_pattern_where(spark):
    """Cypher 5 inline predicates (n WHERE p) / -[r WHERE q]-: parse-
    time desugar into the consuming clause's WHERE, composing with
    cross-variable references, OPTIONAL MATCH (stays inside the left
    join), EXISTS bodies and an outer statement WHERE."""
    from dd_graphdb_spark.graph import PropertyGraph

    v = spark.createDataFrame(
        [(1, "Person", "Alice", 30), (2, "Person", "Bob", 25),
         (3, "Person", "Charlie", 35), (4, "City", "Rome", 0)],
        "id long, label string, name string, age long",
    )
    e = spark.createDataFrame(
        [(1, 2, "knows", 9), (1, 3, "knows", 2), (2, 3, "knows", 5),
         (1, 4, "visited", 1)],
        "src long, dst long, label string, weight long",
    )
    eng = _engine(PropertyGraph(v, e))
    assert sorted(
        r[0] for r in eng.execute(
            "MATCH (n:Person WHERE n.age > 26) RETURN n.name").collect()
    ) == ["Alice", "Charlie"]
    # cross-variable inline predicates on node AND edge
    assert [tuple(r) for r in eng.execute(
        "MATCH (a WHERE a.age >= 30)-[r:knows WHERE r.weight > 3]->"
        "(b WHERE b.age < a.age) RETURN a.name, b.name").collect()
    ] == [("Alice", "Bob")]
    # OPTIONAL MATCH: the inline filter stays within the left join
    assert sorted(
        (r[0], r[1]) for r in eng.execute(
            "MATCH (a:Person) OPTIONAL MATCH (a)-[:visited]->"
            "(c:City WHERE c.name = 'Rome') RETURN a.name, c.name"
        ).collect()
    ) == [("Alice", "Rome"), ("Bob", None), ("Charlie", None)]
    # EXISTS body + combined statement WHERE
    assert sorted(
        r[0] for r in eng.execute(
            "MATCH (n:Person WHERE n.age > 24) WHERE n.age < 31 "
            "RETURN n.name").collect()
    ) == ["Alice", "Bob"]
    for q, frag in [
        ("CREATE (x:A WHERE x.q = 1)", "not allowed in CREATE"),
        # an anonymous node cannot carry an inline WHERE (nothing to
        # reference); note bare (WHERE ..) parses WHERE as a variable
        # name — keywords are nameable — so the guard needs the label
        ("MATCH (:Person WHERE x.q = 1) RETURN 1 AS one", "named"),
        ("MATCH (a)-[:knows WHERE a.x = 1]->(b) RETURN a.name", "named"),
        ("MATCH (a)-[r:knows*1..2 WHERE r.weight > 1]->(b) "
         "RETURN a.name", "variable-length"),
    ]:
        with pytest.raises(ValueError, match=frag):
            eng.execute(q)


def test_label_alternation(spark):
    """(n:A|B) node-label and -[:X|Y]-> edge-type alternation (Cypher):
    isin filters on the read side; write patterns reject the form."""
    from dd_graphdb_spark.graph import PropertyGraph

    v = spark.createDataFrame(
        [(1, "Person", "Alice"), (2, "Company", "Acme"),
         (3, "Bot", "R2"), (4, "Person", "Bob")],
        "id long, label string, name string",
    )
    e = spark.createDataFrame(
        [(1, 2, "works_at"), (1, 4, "knows"), (4, 2, "likes"),
         (3, 2, "monitors")],
        "src long, dst long, label string",
    )
    eng = _engine(PropertyGraph(v, e))
    assert sorted(
        r[0] for r in eng.execute("MATCH (n:Person|Company) RETURN n.name").collect()
    ) == ["Acme", "Alice", "Bob"]
    assert sorted(
        tuple(r) for r in eng.execute(
            "MATCH (a)-[:knows|likes]->(b) RETURN a.name, b.name"
        ).collect()
    ) == [("Alice", "Bob"), ("Bob", "Acme")]
    # variable-length composes with type alternation
    assert sorted(
        r[0] for r in eng.execute(
            "MATCH (a {name:'Alice'})-[:knows|likes*1..2]->(b) RETURN b.name"
        ).collect()
    ) == ["Acme", "Bob"]
    for q in ["CREATE (x:A|B {name: 'z'})",
              "MERGE (x:A|B {name: 'z'})",
              "CREATE (x:A)-[:R|S]->(y:B)"]:
        with pytest.raises(ValueError, match="alternation"):
            eng.execute(q)


def test_nested_correlated_call(people_edges_graph):
    """CALL inside a correlated CALL body: the same grouped-join
    machinery recurses — the nested body derives from the outer body's
    frame, joins back per inner binding, and its outputs feed the body
    RETURN (here: per-a sum over b of b's out-degree)."""
    rows = (
        _engine(people_edges_graph)
        .execute(
            "MATCH (a:Person) CALL { WITH a MATCH (a)-[:knows]->(b) "
            "CALL { WITH b MATCH (b)-[:knows]->(c) RETURN count(c) AS k } "
            "RETURN sum(k) AS reach2 } "
            "RETURN a.name AS nm, reach2 ORDER BY nm"
        )
        .collect()
    )
    # Alice: b∈{Bob(1), Charlie(0)} → 1; Bob: Charlie(0) → 0; Charlie: 0
    assert [(r["nm"], r["reach2"]) for r in rows] == [
        ("Alice", 1), ("Bob", 0), ("Charlie", 0),
    ]


def test_nested_call_streaming_and_optional(people_edges_graph):
    eng = _engine(people_edges_graph)
    rows = eng.execute(
        "MATCH (a:Person) CALL { WITH a MATCH (a)-[:knows]->(b) "
        "OPTIONAL CALL { WITH b MATCH (b)-[:knows]->(c) "
        "RETURN c.name AS cn } RETURN b.name AS bn, cn } "
        "RETURN a.name AS nm, bn, cn ORDER BY nm, bn, cn"
    ).collect()
    assert [(r["nm"], r["bn"], r["cn"]) for r in rows] == [
        ("Alice", "Bob", "Charlie"), ("Alice", "Charlie", None),
        ("Bob", "Charlie", None),
    ]
    # nested CALL composed with a WITH pipeline in one body (the nested
    # output enters the pipeline scope as a bare name)
    rows = eng.execute(
        "MATCH (a:Person) CALL { WITH a MATCH (a)-[:knows]->(b) "
        "CALL { WITH b MATCH (b)-[:knows]->(c) RETURN count(c) AS k } "
        "WITH b.name AS bn, k WHERE k >= 0 RETURN bn, k } "
        "RETURN a.name AS nm, bn, k ORDER BY nm, bn"
    ).collect()
    assert [(r["nm"], r["bn"], r["k"]) for r in rows] == [
        ("Alice", "Bob", 1), ("Alice", "Charlie", 0), ("Bob", "Charlie", 0),
    ]


def test_call_body_with_parse_errors(people_edges_graph):
    eng = _engine(people_edges_graph)
    cases = [
        ("MATCH (a:Person) CALL { WITH a MATCH (a)-[:knows]->(x) "
         "WITH x.name AS xn LIMIT 1 RETURN xn } RETURN xn",
         "needs ORDER BY"),
        ("MATCH (a:Person) CALL { WITH a MATCH (a)-[:knows]->(x) "
         "WITH count(x) RETURN 1 AS one } RETURN one",
         "AS alias"),
    ]
    for q, frag in cases:
        with pytest.raises(ValueError, match=frag):
            eng.execute(q)
    # r13: WITH x, count(x) AS n inside a body GROUPS BY the entity and
    # keeps x in scope for the body RETURN (was a rejection before)
    rows = eng.execute(
        "MATCH (a:Person) CALL { WITH a MATCH (a)-[:knows]->(x) "
        "WITH x, count(x) AS n RETURN x.name AS xn, n } "
        "RETURN a.name AS an, xn, n ORDER BY an, xn"
    ).collect()
    assert all(r["n"] == 1 for r in rows) and len(rows) >= 1


def test_match_after_call_takes_trailing_unwind(people_graph):
    """MATCH written directly after a correlated CALL is an implicit
    ``WITH *`` stage; like an explicit stage it takes a trailing UNWIND
    and returns the rows the explicit form returns."""
    eng = _engine(people_graph)
    call = "MATCH (a) CALL { WITH a MATCH (a)-->(b) RETURN b.name AS bn } "
    tail = (
        "MATCH (a)-->(c) UNWIND [1, 2] AS k "
        "RETURN a.name AS an, bn, c.name AS cn, k ORDER BY an, k"
    )

    def rows(q):
        return [tuple(r) for r in eng.execute(q).collect()]

    implicit = rows(call + tail)
    assert implicit == rows(call + "WITH * " + tail)
    assert implicit == [
        ("Alice", "Bob", "Bob", 1),
        ("Alice", "Bob", "Bob", 2),
        ("Bob", "Charlie", "Charlie", 1),
        ("Bob", "Charlie", "Charlie", 2),
    ]


# --------------------------------------------------- FOREACH write bodies
def test_multi_key_expression_set_single_witness_row(spark, tmp_path):
    """Multi-key expression SET takes ALL assigned keys from ONE binding
    row per entity (Cypher's last-row-wins keeps a row's full
    assignment) — an independent max per rendered key would MIX rows
    here: max name 'zed' belongs to age 1 while max rendered age '50'
    belongs to 'ann' (string max, '5' > '1'), a (zed, 50) combination
    no binding row produced (ADVICE r10)."""
    from dd_graphdb_spark.storage.store import prop_typed

    store, engine = _set_store(spark, tmp_path)
    engine().execute(
        "CREATE (h:H {name: 'hub', age: 0})-[:sees]->"
        "(a:P {name: 'ann', age: 50})-[:sees]->(z:P {name: 'zed', age: 1})"
    )
    engine().execute(
        "MATCH (h:H)-[:sees*1..2]->(x:P) "
        "SET h.tag = x.name, h.age = x.age + 0"
    )
    row = (
        store.vertices()
        .filter(prop_typed("properties", "name") == "hub")
        .select(
            prop_typed("properties", "tag").alias("tag"),
            prop_typed("properties", "age", "long").alias("age"),
        )
        .collect()[0]
    )
    assert (row["tag"], row["age"]) in {("ann", 50), ("zed", 1)}
    # deterministic witness: max over the full rendered tuple
    assert (row["tag"], row["age"]) == ("zed", 1)


def test_foreach_loop_var_shadowing_outer_var_rejected(people_graph):
    eng = _engine(people_graph)
    with pytest.raises(ValueError, match="already declared"):
        eng.execute("MATCH (v:Person) FOREACH (v IN [1, 2] | SET v.age = 3)")


def test_foreach_create_element_list_cap(spark, tmp_path, monkeypatch):
    """FOREACH CREATE collects the exploded element list driver-side
    (sequential id assignment, like bare CREATE); past the cap the
    statement is a bulk load and is rejected with guidance."""
    import dd_graphdb_spark.storage.store as store_mod

    store, engine = _set_store(spark, tmp_path)
    engine().execute("CREATE (a:P {name: 'ann', age: 1})")
    monkeypatch.setattr(store_mod, "_FOREACH_MAX_ELEMS", 3)
    with pytest.raises(ValueError, match="more than 3"):
        engine().execute(
            "MATCH (a:P) FOREACH (x IN [1, 2, 3, 4] | "
            "CREATE (:Tag {v: x}))"
        )
    # at the cap it still works
    engine().execute(
        "MATCH (a:P) FOREACH (x IN [1, 2, 3] | CREATE (:Tag {v: x}))"
    )
    assert store.vertices().filter("label = 'Tag'").count() == 3


def test_foreach_create_body_per_element_one_version(spark, tmp_path):
    from dd_graphdb_spark.plans.lower import GQLEngine
    from dd_graphdb_spark.storage import GraphStore
    from dd_graphdb_spark.storage.store import prop_typed

    store = GraphStore(spark, str(tmp_path / "store"))

    def engine():
        return GQLEngine(
            store.as_property_graph({"name": "string", "v": "string"}),
            store=store,
        )

    engine().execute("CREATE (a:Seed {name: 'seed'})")
    before = store.version
    engine().execute(
        "MATCH (s:Seed) FOREACH (x IN ['b', 'a', 'b'] | CREATE (:Tag {v: x}))"
    )
    assert store.version == before + 1  # ONE version for all elements
    got = sorted(
        (r["id"], r["v"])
        for r in store.vertices()
        .filter("label = 'Tag'")
        .select("id", prop_typed("properties", "v").alias("v"))
        .collect()
    )
    # duplicates kept; ids deterministic (elements sorted before assign)
    assert [v for _, v in got] == ["a", "b", "b"]


def test_foreach_merge_body_distinct_elements_skip_existing(spark, tmp_path):
    from dd_graphdb_spark.plans.lower import GQLEngine
    from dd_graphdb_spark.storage import GraphStore
    from dd_graphdb_spark.storage.store import prop_typed

    store = GraphStore(spark, str(tmp_path / "store"))

    def engine():
        return GQLEngine(
            store.as_property_graph({"name": "string", "v": "string"}),
            store=store,
        )

    engine().execute("CREATE (a:Seed {name: 'seed'})")
    engine().execute(
        "MATCH (s:Seed) FOREACH (x IN ['a'] | CREATE (:Tag {v: x}))"
    )
    engine().execute(
        "MATCH (s:Seed) FOREACH (x IN ['a', 'c', 'c'] | MERGE (:Tag {v: x}))"
    )
    got = sorted(
        r["v"]
        for r in store.vertices()
        .filter("label = 'Tag'")
        .select(prop_typed("properties", "v").alias("v"))
        .collect()
    )
    assert got == ["a", "c"]  # 'a' matched (no dup), 'c' created once


def test_foreach_create_requires_loop_var_and_empty_match_noops(spark, tmp_path):
    from dd_graphdb_spark.plans.lower import GQLEngine
    from dd_graphdb_spark.storage import GraphStore

    store = GraphStore(spark, str(tmp_path / "store"))

    def engine():
        return GQLEngine(store.as_property_graph({"name": "string"}), store=store)

    engine().execute("CREATE (a:Seed {name: 'seed'})")
    with pytest.raises(ValueError, match="reference the loop variable"):
        engine().execute(
            "MATCH (s:Seed) FOREACH (x IN [1] | CREATE (:T {v: 9}))"
        )
    before = store.version
    engine().execute(
        "MATCH (s:Nope) FOREACH (x IN ['z'] | CREATE (:Tag {v: x}))"
    )
    assert store.version == before  # empty match: no version commit


# --------------------------------------------------------------------------
# Round 12: native multi-WITH pipeline chains (MATCH .. WITH .. WITH ..
# RETURN) and the CALL-body grammar closures (leading UNWIND; nested
# CALL composed with a WITH pipeline).
# --------------------------------------------------------------------------
def test_multi_with_chain_project_then_aggregate(people_graph):
    eng = _engine(people_graph)
    rows = eng.execute(
        "MATCH (p:Person)-[:friend]->(q:Person) "
        "WITH p, q.age AS fage WHERE fage < 40 "
        "WITH p.name AS pname, count(*) AS nf, sum(fage) AS total "
        "RETURN pname, nf, total ORDER BY pname"
    ).collect()
    assert [(r["pname"], r["nf"], r["total"]) for r in rows] == [
        ("Alice", 1, 25), ("Bob", 1, 35),
    ]


def test_multi_with_three_stage_chain(people_graph):
    eng = _engine(people_graph)
    rows = eng.execute(
        "MATCH (p:Person) "
        "WITH p.name AS nm, p.age AS a "
        "WITH nm, a WHERE a >= 30 "
        "WITH nm, a * 2 AS a2 "
        "RETURN nm, a2 ORDER BY nm"
    ).collect()
    assert [(r["nm"], r["a2"]) for r in rows] == [
        ("Alice", 60), ("Charlie", 70),
    ]


def test_multi_with_mid_pipeline_topk_then_compute(people_graph):
    eng = _engine(people_graph)
    rows = eng.execute(
        "MATCH (p:Person) "
        "WITH p.name AS nm, p.age AS a ORDER BY a DESC LIMIT 2 "
        "WITH nm, a + 1 AS a1 "
        "RETURN nm, a1 ORDER BY nm"
    ).collect()
    assert [(r["nm"], r["a1"]) for r in rows] == [
        ("Alice", 31), ("Charlie", 36),
    ]


def test_multi_with_passthrough_then_match_in_second_stage(people_graph):
    eng = _engine(people_graph)
    rows = eng.execute(
        "MATCH (p:Person) WITH p WHERE p.age < 32 "
        "WITH p MATCH (p)-[:friend]->(r:Person) "
        "RETURN p.name AS pname, r.name AS rname ORDER BY pname, rname"
    ).collect()
    assert [(r["pname"], r["rname"]) for r in rows] == [
        ("Alice", "Bob"), ("Bob", "Charlie"),
    ]


def test_multi_with_collect_unwind_between_stages(people_graph):
    eng = _engine(people_graph)
    rows = eng.execute(
        "MATCH (p:Person)-[:friend]->(q:Person) "
        "WITH p.name AS pname, collect(q.age) AS ages UNWIND ages AS a "
        "WITH pname, a WHERE a > 25 "
        "RETURN pname, a ORDER BY pname, a"
    ).collect()
    assert [(r["pname"], r["a"]) for r in rows] == [("Bob", 35)]


def test_multi_with_distinct_and_where_in_later_stage(people_graph):
    eng = _engine(people_graph)
    rows = eng.execute(
        "MATCH (p:Person)-[:friend]->(q:Person) "
        "WITH q.age AS qa "
        "WITH DISTINCT qa WHERE qa > 20 "
        "RETURN qa ORDER BY qa"
    ).collect()
    assert [r["qa"] for r in rows] == [25, 35]


def test_multi_with_aggregate_then_reaggregate(people_graph):
    eng = _engine(people_graph)
    # second aggregation over the first stage's aggregate output
    rows = eng.execute(
        "MATCH (p:Person)-[:friend]->(q:Person) "
        "WITH p.name AS pname, count(*) AS deg "
        "WITH deg, count(*) AS n_people "
        "RETURN deg, n_people ORDER BY deg"
    ).collect()
    assert [(r["deg"], r["n_people"]) for r in rows] == [(1, 2)]


def test_multi_with_unknown_alias_errors(people_graph):
    eng = _engine(people_graph)
    with pytest.raises(ValueError, match="unknown variable"):
        eng.execute(
            "MATCH (p:Person) WITH p.name AS nm WITH ghost RETURN ghost"
        )
    with pytest.raises(ValueError, match="not in scope|unknown"):
        eng.execute(
            "MATCH (p:Person) WITH p.name AS nm WITH p.age AS a RETURN a"
        )


def test_call_body_leading_unwind(people_graph):
    eng = _engine(people_graph)
    rows = eng.execute(
        "MATCH (p:Person) "
        "CALL { WITH p UNWIND [1, 2] AS t MATCH (p)-[:friend]->(x:Person) "
        "RETURN count(*) AS c, sum(t) AS s } "
        "RETURN p.name AS pname, c, s ORDER BY pname"
    ).collect()
    assert [(r["pname"], r["c"], r["s"]) for r in rows] == [
        ("Alice", 2, 3), ("Bob", 2, 3), ("Charlie", 0, 0),
    ]


def test_call_body_leading_unwind_where_references_alias(people_graph):
    eng = _engine(people_graph)
    rows = eng.execute(
        "MATCH (p:Person) "
        "CALL { WITH p UNWIND [1, 2, 3] AS t "
        "MATCH (p)-[:friend]->(x:Person) WHERE t <= 2 "
        "RETURN collect(t) AS ts } "
        "RETURN p.name AS pname, ts ORDER BY pname"
    ).collect()
    assert [(r["pname"], list(r["ts"])) for r in rows] == [
        ("Alice", [1, 2]), ("Bob", [1, 2]), ("Charlie", []),
    ]


def test_call_body_leading_unwind_alias_shadow_rejected(people_graph):
    eng = _engine(people_graph)
    with pytest.raises(ValueError, match="shadows an imported"):
        eng.execute(
            "MATCH (p:Person) "
            "CALL { WITH p UNWIND [1] AS p MATCH (p)-[:friend]->(x) "
            "RETURN count(*) AS c } RETURN c"
        )


def test_call_body_multi_with_chain(people_graph):
    eng = _engine(people_graph)
    # two chained stages inside the body: project+filter, then a
    # pure-aggregate stage that re-seeds one row per outer binding
    rows = eng.execute(
        "MATCH (p:Person) "
        "CALL { WITH p MATCH (p)-[:friend]->(x:Person) "
        "WITH x.age AS a WHERE a > 24 "
        "WITH count(*) AS c, sum(a) AS s RETURN c, s } "
        "RETURN p.name AS nm, c, s ORDER BY nm"
    ).collect()
    assert [(r["nm"], r["c"], r["s"]) for r in rows] == [
        ("Alice", 1, 25), ("Bob", 1, 35), ("Charlie", 0, 0),
    ]
    # per-outer-row top-k mid-chain, then collect
    rows = eng.execute(
        "MATCH (p:Person) "
        "CALL { WITH p MATCH (p)-[:friend]->(x:Person) "
        "WITH x.name AS xn, x.age AS a ORDER BY a DESC, xn LIMIT 1 "
        "WITH collect(xn) AS tops RETURN tops } "
        "RETURN p.name AS nm, tops ORDER BY nm"
    ).collect()
    assert [(r["nm"], list(r["tops"])) for r in rows] == [
        ("Alice", ["Bob"]), ("Bob", ["Charlie"]), ("Charlie", []),
    ]
    # collect + UNWIND between body stages; empty lists re-seed to 0
    rows = eng.execute(
        "MATCH (p:Person) "
        "CALL { WITH p MATCH (p)-[:friend]->(x:Person) "
        "WITH collect(x.age) AS ages UNWIND ages AS a "
        "WITH a WHERE a > 25 RETURN count(*) AS n_old } "
        "RETURN p.name AS nm, n_old ORDER BY nm"
    ).collect()
    assert [(r["nm"], r["n_old"]) for r in rows] == [
        ("Alice", 0), ("Bob", 1), ("Charlie", 0),
    ]


def test_multi_with_final_return_count_subquery(people_graph):
    eng = _engine(people_graph)
    rows = eng.execute(
        "MATCH (p:Person) WITH p WHERE p.age < 40 WITH p "
        "RETURN p.name AS nm, COUNT { (p)-[:friend]->(x:Person) } AS nf "
        "ORDER BY nm"
    ).collect()
    assert [(r["nm"], r["nf"]) for r in rows] == [
        ("Alice", 1), ("Bob", 1), ("Charlie", 0),
    ]


def test_multi_with_stage_where_count_subquery(people_graph):
    eng = _engine(people_graph)
    rows = eng.execute(
        "MATCH (p:Person) WITH p "
        "WITH p WHERE COUNT { (p)-[:friend]->(x) } >= 1 "
        "RETURN p.name AS nm ORDER BY nm"
    ).collect()
    assert [r["nm"] for r in rows] == ["Alice", "Bob"]


def test_multi_with_mixed_passthrough_and_alias(people_graph):
    eng = _engine(people_graph)
    rows = eng.execute(
        "MATCH (p:Person) WITH p, p.age AS a "
        "WITH p WHERE a > 25 "
        "RETURN p.name AS nm ORDER BY nm"
    ).collect()
    assert [r["nm"] for r in rows] == ["Alice", "Charlie"]


def test_call_statement_body_multi_with(people_graph):
    eng = _engine(people_graph)
    # uncorrelated CALL bodies are full read queries — chains compose
    rows = eng.execute(
        "CALL { MATCH (p:Person) WITH p.age AS a WHERE a > 24 "
        "WITH a % 2 AS par, count(*) AS c RETURN par, c } "
        "RETURN par, c ORDER BY par"
    ).collect()
    assert [(r["par"], r["c"]) for r in rows] == [(0, 1), (1, 2)]


def test_with_star_filter_and_extras(people_graph):
    eng = _engine(people_graph)
    rows = eng.execute(
        "MATCH (p:Person) WITH * WHERE p.age > 26 "
        "RETURN p.name AS nm ORDER BY nm"
    ).collect()
    assert [r["nm"] for r in rows] == ["Alice", "Charlie"]
    rows = eng.execute(
        "MATCH (p:Person) WITH *, p.age * 2 AS a2 WHERE a2 > 55 "
        "RETURN p.name AS nm, a2 ORDER BY nm"
    ).collect()
    assert [(r["nm"], r["a2"]) for r in rows] == [("Alice", 60), ("Charlie", 70)]


def test_with_star_keeps_all_variables_and_chains(people_graph):
    eng = _engine(people_graph)
    rows = eng.execute(
        "MATCH (p:Person)-[:friend]->(q:Person) WITH * WHERE q.age > 26 "
        "RETURN p.name AS pn, q.name AS qn ORDER BY pn"
    ).collect()
    assert [(r["pn"], r["qn"]) for r in rows] == [("Bob", "Charlie")]
    rows = eng.execute(
        "MATCH (p:Person) WITH * WHERE p.age > 24 "
        "WITH p.name AS nm, count(*) AS c RETURN nm, c ORDER BY nm"
    ).collect()
    assert [(r["nm"], r["c"]) for r in rows] == [
        ("Alice", 1), ("Bob", 1), ("Charlie", 1),
    ]
    rows = eng.execute(
        "MATCH (p:Person) WITH p.name AS nm, p.age AS a "
        "WITH * WHERE a > 26 RETURN nm ORDER BY nm"
    ).collect()
    assert [r["nm"] for r in rows] == ["Alice", "Charlie"]


def test_with_star_post_match_and_errors(people_graph):
    eng = _engine(people_graph)
    rows = eng.execute(
        "MATCH (p:Person) WITH * MATCH (p)-[:friend]->(r:Person) "
        "RETURN p.name AS pn, r.name AS rn ORDER BY pn"
    ).collect()
    assert [(r["pn"], r["rn"]) for r in rows] == [
        ("Alice", "Bob"), ("Bob", "Charlie"),
    ]
    # r14: WITH *, <aggregate> groups by the whole star scope (here the
    # single entity p — one group per person)
    rows = eng.execute(
        "MATCH (p:Person) WITH *, count(*) AS c RETURN p.name AS pn, c "
        "ORDER BY pn"
    ).collect()
    assert [(r["pn"], r["c"]) for r in rows] == [
        ("Alice", 1), ("Bob", 1), ("Charlie", 1),
    ]
    # r13: WITH * is supported inside correlated CALL bodies — the star
    # keeps the body frame per imported binding, so the body aggregate
    # still computes per outer row (pure-agg: one row per outer row)
    rows = eng.execute(
        "MATCH (p:Person) CALL { WITH p MATCH (p)-[:friend]->(x) "
        "WITH * RETURN count(*) AS c } RETURN p.name AS pn, c ORDER BY pn"
    ).collect()
    assert [(r["pn"], r["c"]) for r in rows] == [
        ("Alice", 1), ("Bob", 1), ("Charlie", 0),
    ]


def test_exists_pattern_in_with_where(people_graph):
    eng = _engine(people_graph)
    rows = eng.execute(
        "MATCH (p:Person) WITH p WHERE EXISTS((p)-[:friend]->(x:Person)) "
        "RETURN p.name AS nm ORDER BY nm"
    ).collect()
    assert [r["nm"] for r in rows] == ["Alice", "Bob"]
    rows = eng.execute(
        "MATCH (p:Person) WITH p "
        "WHERE NOT EXISTS((p)-[:friend]->(x:Person)) "
        "RETURN p.name AS nm ORDER BY nm"
    ).collect()
    assert [r["nm"] for r in rows] == ["Charlie"]
    # mixed with a residual bare-alias condition; star stage variant
    rows = eng.execute(
        "MATCH (p:Person) WITH p, p.age AS a "
        "WHERE EXISTS((p)-[:friend]->(x)) AND a > 26 "
        "RETURN p.name AS nm ORDER BY nm"
    ).collect()
    assert [r["nm"] for r in rows] == ["Alice"]
    rows = eng.execute(
        "MATCH (p:Person) WITH * WHERE EXISTS((p)-[:friend]->(x:Person)) "
        "RETURN p.name AS nm ORDER BY nm"
    ).collect()
    assert [r["nm"] for r in rows] == ["Alice", "Bob"]
    # aggregating stages still reject (no witness to correlate on)
    with pytest.raises(ValueError, match="AGGREGATING WITH"):
        eng.execute(
            "MATCH (p:Person) WITH count(*) AS c "
            "WHERE EXISTS((p)-[:friend]->(x)) RETURN c"
        )


def test_exists_pattern_in_call_body_with_where(people_graph):
    eng = _engine(people_graph)
    rows = eng.execute(
        "MATCH (n:Person) CALL { WITH n MATCH (n)-[:friend]->(q:Person) "
        "WITH q WHERE EXISTS((q)-[:friend]->(r:Person)) "
        "RETURN q.name AS qn } "
        "RETURN n.name AS nm, qn ORDER BY nm"
    ).collect()
    assert [(r["nm"], r["qn"]) for r in rows] == [("Alice", "Bob")]


def test_return_star_after_with(people_graph):
    eng = _engine(people_graph)
    df = eng.execute(
        "MATCH (p:Person) WITH p WHERE p.age > 26 RETURN * ORDER BY p.name"
    )
    assert df.columns == ["p_id", "p_label", "p_name", "p_age"]
    assert [r["p_name"] for r in df.collect()] == ["Alice", "Charlie"]
    df = eng.execute(
        "MATCH (p:Person) WITH p.name AS nm, p.age AS a RETURN * ORDER BY nm"
    )
    assert df.columns == ["nm", "a"]
    df = eng.execute("MATCH (p:Person) WITH p, p.age AS a WHERE a > 24 RETURN *")
    assert df.columns == ["p_id", "p_label", "p_name", "p_age", "a"]
    # after an aggregating WITH the scope is the aggregate aliases
    df = eng.execute("MATCH (p:Person) WITH count(*) AS c RETURN *")
    assert df.columns == ["c"] and df.collect()[0]["c"] == 3


def test_unwind_value_table_with_pipeline(people_graph):
    eng = _engine(people_graph)
    rows = eng.execute(
        "UNWIND [3, 1, 2, 2] AS x WITH x WHERE x > 1 RETURN x ORDER BY x"
    ).collect()
    assert [r["x"] for r in rows] == [2, 2, 3]
    rows = eng.execute(
        "UNWIND [3, 1, 2, 2] AS x WITH DISTINCT x "
        "WITH x * 10 AS y RETURN y ORDER BY y"
    ).collect()
    assert [r["y"] for r in rows] == [10, 20, 30]
    rows = eng.execute("UNWIND [3, 1, 2] AS x WITH sum(x) AS s RETURN s").collect()
    assert rows[0]["s"] == 6


def test_with_distinct_star_ignores_anonymous_edges(spark):
    from dd_graphdb_spark.graph import PropertyGraph
    from dd_graphdb_spark.plans.lower import GQLEngine

    v = spark.createDataFrame(
        [(1, "Person", "A"), (2, "Person", "B")],
        "id long, label string, name string",
    )
    e = spark.createDataFrame(
        [(1, 2, "friend"), (1, 2, "colleague")],  # parallel edges
        "src long, dst long, label string",
    )
    eng = GQLEngine(PropertyGraph(v, e))
    rows = eng.execute(
        "MATCH (a:Person)-->(b:Person) WITH DISTINCT * RETURN count(*) AS c"
    ).collect()
    # Cypher scope after WITH * is the NAMED variables (a, b) only —
    # the two parallel anonymous edges dedup to one row
    assert rows[0]["c"] == 1


def test_unwind_value_table_optional_match_clear_error(people_graph):
    with pytest.raises(ValueError, match="disconnected cross product"):
        _engine(people_graph).execute(
            "UNWIND [1, 2] AS x OPTIONAL MATCH (n:Person) RETURN x"
        )


def test_call_body_leading_unwind_count_subquery_where(people_graph):
    eng = _engine(people_graph)
    rows = eng.execute(
        "MATCH (p:Person) CALL { WITH p UNWIND [1, 2] AS t "
        "MATCH (p)-->(u) WHERE COUNT { (u)-->(w) } > 0 "
        "RETURN count(*) AS c } "
        "RETURN p.name AS nm, c ORDER BY nm"
    ).collect()
    # Alice->Bob (Bob has an out-edge): 1 match x 2 unwound = 2;
    # Bob->Charlie (no out-edge) = 0; Charlie = 0
    assert [(r["nm"], r["c"]) for r in rows] == [
        ("Alice", 2), ("Bob", 0), ("Charlie", 0),
    ]


def test_reserved_underscore_namespace_rejected(people_graph):
    eng = _engine(people_graph)
    for q in [
        "MATCH (_n:Person) RETURN _n.name",
        "MATCH (p:Person)-[_e0:friend]->(q) RETURN _e0.since",
        "MATCH (p:Person) WITH p.age AS _a RETURN _a",
        "UNWIND [1] AS _x RETURN _x",
    ]:
        with pytest.raises(ValueError, match="reserved"):
            eng.execute(q)


def test_return_star_alias_collision_clear_error(people_graph):
    eng = _engine(people_graph)
    with pytest.raises(ValueError, match="collide"):
        eng.execute(
            "MATCH (p:Person) WITH p, p.age AS p_age RETURN *"
        ).collect()


def test_stage_match_without_scope_clear_error(people_graph):
    eng = _engine(people_graph)
    with pytest.raises(ValueError, match="no in-scope variables"):
        eng.execute(
            "UNWIND [1, 2] AS x WITH x MATCH (n:Person) RETURN x"
        ).collect()


# ---- r13: WITH * / RETURN * inside correlated CALL bodies -----------------


def test_call_body_with_star_where_filters_passthrough(people_graph):
    eng = _engine(people_graph)
    rows = eng.execute(
        "MATCH (p:Person) CALL { WITH p MATCH (p)-[:friend]->(x:Person) "
        "WITH * WHERE x.age > 25 RETURN x.name AS xn } "
        "RETURN p.name AS pn, xn ORDER BY pn"
    ).collect()
    assert [(r["pn"], r["xn"]) for r in rows] == [("Bob", "Charlie")]


def test_call_body_with_star_extras_and_collision(people_graph):
    eng = _engine(people_graph)
    rows = eng.execute(
        "MATCH (p:Person) CALL { WITH p MATCH (p)-[:friend]->(x) "
        "WITH *, x.age AS xa WHERE xa > 20 RETURN x.name AS xn, xa } "
        "RETURN p.name AS pn, xn, xa ORDER BY pn, xn"
    ).collect()
    assert all(r["xa"] > 20 for r in rows) and len(rows) == 2
    with pytest.raises(ValueError, match="duplicates a kept column"):
        eng.execute(
            "MATCH (p:Person) CALL { WITH p MATCH (p)-[:friend]->(x) "
            "WITH *, x.age AS xa WITH *, x.age AS xa RETURN xa } "
            "RETURN xa"
        ).collect()


def test_call_body_return_star_after_scalar_with(people_graph):
    eng = _engine(people_graph)
    rows = eng.execute(
        "MATCH (p:Person) CALL { WITH p MATCH (p)-[:friend]->(x) "
        "WITH x.name AS xn, x.age AS xa RETURN * "
        "ORDER BY xa DESC, xn LIMIT 1 } "
        "RETURN p.name AS pn, xn, xa ORDER BY pn"
    ).collect()
    assert [(r["pn"], r["xn"]) for r in rows] == [
        ("Alice", "Bob"), ("Bob", "Charlie"),
    ]


def test_call_body_return_star_rejections(people_graph):
    eng = _engine(people_graph)
    # directly after the body MATCH: parse-time rejection (entity scope)
    with pytest.raises(ValueError, match="re-export the imported"):
        eng.execute(
            "MATCH (p:Person) CALL { WITH p MATCH (p)-[:friend]->(x) "
            "RETURN * } RETURN p.name AS pn"
        )
    # after a star WITH whole variables remain in scope: lowering rejection
    with pytest.raises(ValueError, match="re-export entity bindings"):
        eng.execute(
            "MATCH (p:Person) CALL { WITH p MATCH (p)-[:friend]->(x) "
            "WITH * RETURN * } RETURN p.name AS pn"
        )


def test_double_underscore_binding_names_rejected(people_graph):
    eng = _engine(people_graph)
    for q in [
        "MATCH (my__v:Person) RETURN my__v.name AS n",
        "MATCH (p:Person) RETURN p.name AS my__alias",
        "MATCH (p:Person) WITH p.age AS my__a RETURN my__a",
        "UNWIND [1] AS x__y RETURN x__y",
    ]:
        with pytest.raises(ValueError, match="binding-column separator"):
            eng.execute(q)


# ---- r13: entity export from correlated CALL bodies -----------------------


def test_call_body_entity_export(people_graph):
    eng = _engine(people_graph)
    rows = eng.execute(
        "MATCH (p:Person) CALL { WITH p MATCH (p)-[:friend]->(x) "
        "RETURN x } RETURN p.name AS pn, x.name AS xn, x.age AS xa "
        "ORDER BY pn"
    ).collect()
    assert [(r["pn"], r["xn"]) for r in rows] == [
        ("Alice", "Bob"), ("Bob", "Charlie"),
    ]
    assert all(r["xa"] is not None for r in rows)


def test_call_body_entity_export_topk_and_agg(people_graph):
    eng = _engine(people_graph)
    # per-outer-row top-1 ordered by the exported entity's property
    rows = eng.execute(
        "MATCH (p:Person) CALL { WITH p MATCH (p)-[:friend]->(x) "
        "RETURN x ORDER BY x.age DESC LIMIT 1 } "
        "RETURN p.name AS pn, x.name AS xn ORDER BY pn"
    ).collect()
    assert [(r["pn"], r["xn"]) for r in rows] == [
        ("Alice", "Bob"), ("Bob", "Charlie"),
    ]
    # entity + aggregate mix groups per entity (Cypher implicit keys)
    rows = eng.execute(
        "MATCH (p:Person) CALL { WITH p MATCH (p)-[:friend]->(x) "
        "RETURN x, count(*) AS c } RETURN x.name AS xn, c ORDER BY xn"
    ).collect()
    assert [(r["xn"], r["c"]) for r in rows] == [("Bob", 1), ("Charlie", 1)]


def test_call_body_entity_reexport_rejected(people_graph):
    eng = _engine(people_graph)
    with pytest.raises(ValueError, match="already declared in the outer"):
        eng.execute(
            "MATCH (p:Person) CALL { WITH p MATCH (p)-[:friend]->(x) "
            "RETURN p } RETURN p.name AS pn"
        )


def test_optional_call_entity_export_null_fills(people_graph):
    eng = _engine(people_graph)
    rows = eng.execute(
        "MATCH (p:Person) OPTIONAL CALL { WITH p "
        "MATCH (p)-[:friend]->(x) RETURN x } "
        "RETURN p.name AS pn, x.name AS xn ORDER BY pn"
    ).collect()
    assert [(r["pn"], r["xn"]) for r in rows] == [
        ("Alice", "Bob"), ("Bob", "Charlie"), ("Charlie", None),
    ]


def test_call_body_entity_export_joins_later_match(people_graph):
    """An exported entity is a full outer binding: a post-CALL WITH
    stage can pass it through (explicitly or via *) and a later MATCH
    joins on it."""
    eng = _engine(people_graph)
    for passthrough in ("*", "p, x"):
        rows = eng.execute(
            "MATCH (p:Person) CALL { WITH p MATCH (p)-[:friend]->(x) "
            f"RETURN x }} WITH {passthrough} "
            "MATCH (x)-[:friend]->(z) "
            "RETURN p.name AS pn, z.name AS zn ORDER BY pn"
        ).collect()
        assert [(r["pn"], r["zn"]) for r in rows] == [("Alice", "Charlie")]


def test_match_directly_after_call(people_graph):
    """MATCH / OPTIONAL MATCH directly after CALL { } — sugar for an
    implicit WITH * stage; joins on the CALL's exported entity."""
    eng = _engine(people_graph)
    rows = eng.execute(
        "MATCH (p:Person) CALL { WITH p MATCH (p)-[:friend]->(x) "
        "RETURN x } MATCH (x)-[:friend]->(z) "
        "RETURN p.name AS pn, z.name AS zn ORDER BY pn"
    ).collect()
    assert [(r["pn"], r["zn"]) for r in rows] == [("Alice", "Charlie")]
    rows = eng.execute(
        "MATCH (p:Person) CALL { WITH p MATCH (p)-[:friend]->(x) "
        "RETURN x } OPTIONAL MATCH (x)-[:friend]->(z) "
        "RETURN p.name AS pn, z.name AS zn ORDER BY pn"
    ).collect()
    assert [(r["pn"], r["zn"]) for r in rows] == [
        ("Alice", "Charlie"), ("Bob", None),
    ]


def test_distinct_over_entities(people_graph):
    """DISTINCT over whole-entity frames (map-typed binding columns):
    dedup on the non-map columns — maps are id-determined."""
    eng = _engine(people_graph)
    rows = eng.execute(
        "MATCH (p:Person)-[:friend]->(x) WITH DISTINCT p "
        "RETURN p.name AS nm ORDER BY nm"
    ).collect()
    assert [r["nm"] for r in rows] == ["Alice", "Bob"]
    rows = eng.execute(
        "MATCH (p:Person)-[:friend]->(x) RETURN DISTINCT p ORDER BY p.name"
    ).collect()
    assert [r["p_name"] for r in rows] == ["Alice", "Bob"]


def test_string_concatenation_plus(people_graph):
    eng = _engine(people_graph)
    rows = eng.execute(
        "MATCH (p:Person) RETURN 'hi ' + p.name + '/' + p.age AS g ORDER BY g"
    ).collect()
    assert [r["g"] for r in rows] == [
        "hi Alice/30", "hi Bob/25", "hi Charlie/35",
    ]
    # numeric + stays numeric
    rows = eng.execute(
        "MATCH (p:Person) RETURN p.age + 1 AS a ORDER BY a LIMIT 1"
    ).collect()
    assert rows[0]["a"] == 26


def test_call_body_star_with_entities_rejection_pinned(people_graph):
    """FINAL (r14, re-affirmed per the r13 review): ``RETURN *`` inside
    a correlated CALL body while entity bindings remain in scope stays
    REJECTED — Neo4j rejects the same shape ("variable already declared
    in outer scope"), because * would re-export the imported variables.
    These pin the two guidance messages (parser and lowerer seams) so
    the rejection is a stable contract, not an accident."""
    eng = _engine(people_graph)
    # parser seam: bare RETURN * directly after the body MATCH
    with pytest.raises(ValueError, match="project named scalars in a WITH"):
        eng.execute(
            "MATCH (p:Person) CALL { WITH p MATCH (p)-[:friend]->(x) "
            "RETURN * } RETURN p.name"
        )
    # lowerer seam: a WITH that still passes WHOLE variables keeps
    # entity bindings in scope — star stays rejected with guidance
    with pytest.raises(ValueError, match="re-export entity bindings"):
        eng.execute(
            "MATCH (p:Person) CALL { WITH p MATCH (p)-[:friend]->(x) "
            "WITH x RETURN * } RETURN p.name"
        )
    # the documented fix works: scalar-projecting WITH, then star
    rows = eng.execute(
        "MATCH (p:Person) CALL { WITH p MATCH (p)-[:friend]->(x) "
        "WITH x.name AS fname RETURN * } RETURN p.name AS nm, fname "
        "ORDER BY nm, fname"
    ).collect()
    assert [(r["nm"], r["fname"]) for r in rows] == [
        ("Alice", "Bob"), ("Bob", "Charlie"),
    ]
    # ...and so does named entity export (the r13 alternative)
    rows = eng.execute(
        "MATCH (p:Person) CALL { WITH p MATCH (p)-[:friend]->(x) "
        "RETURN x } RETURN p.name AS nm, x.name AS fname "
        "ORDER BY nm, fname"
    ).collect()
    assert [(r["nm"], r["fname"]) for r in rows] == [
        ("Alice", "Bob"), ("Bob", "Charlie"),
    ]


def test_with_star_aggregate_groups_by_whole_scope(people_graph):
    """WITH *, <agg> AS c (r14): Neo4j's implicit grouping by the WHOLE
    star scope — entities group by their binding columns and stay
    dereferenceable, bare aliases group as plain keys."""
    eng = _engine(people_graph)
    # entity + bare alias in scope: group by (a, ba)
    rows = eng.execute(
        "MATCH (a:Person)-[:friend]->(b) WITH a, b.age AS ba "
        "WITH *, count(*) AS n RETURN a.name AS an, ba, n ORDER BY an, ba"
    ).collect()
    assert [(r["an"], r["ba"], r["n"]) for r in rows] == [
        ("Alice", 25, 1), ("Bob", 35, 1),
    ]
    # entity-only scope: per-entity count, entity still dereferenceable
    rows = eng.execute(
        "MATCH (a:Person)-[:friend]->(b) WITH a WITH *, count(*) AS n "
        "WHERE n >= 1 RETURN a.name AS an, n ORDER BY an"
    ).collect()
    assert [(r["an"], r["n"]) for r in rows] == [("Alice", 1), ("Bob", 1)]
    # two entities: the pair is the group
    rows = eng.execute(
        "MATCH (a:Person)-[:friend]->(b) WITH *, count(*) AS n "
        "RETURN a.name AS an, b.name AS bn, n ORDER BY an"
    ).collect()
    assert [(r["an"], r["bn"], r["n"]) for r in rows] == [
        ("Alice", "Bob", 1), ("Bob", "Charlie", 1),
    ]


def test_with_star_aggregate_in_call_body(people_graph):
    """Star-scope grouping inside a correlated CALL body evaluates per
    imported binding (witness keys join the grouping)."""
    eng = _engine(people_graph)
    rows = eng.execute(
        "MATCH (p:Person) CALL { WITH p MATCH (p)-[:friend]->(x) "
        "WITH p, x.age AS xa WITH *, count(*) AS k RETURN xa, k } "
        "RETURN p.name AS pn, xa, k ORDER BY pn, xa"
    ).collect()
    assert [(r["pn"], r["xa"], r["k"]) for r in rows] == [
        ("Alice", 25, 1), ("Bob", 35, 1),
    ]


def test_with_star_aggregate_requires_alias(people_graph):
    with pytest.raises(ValueError, match="explicit AS alias"):
        _engine(people_graph).execute(
            "MATCH (a:Person) WITH *, count(*) RETURN 1 AS one"
        )


def test_with_star_aggregate_duplicate_alias_guidance(people_graph):
    """r15 (advisor): an aggregate alias colliding with a star-kept
    bare alias or variable raises the same guidance error the non-agg
    star branch gives, instead of expanding into duplicate columns and
    an opaque Spark AMBIGUOUS_REFERENCE downstream."""
    eng = _engine(people_graph)
    # collides with a bare alias the star keeps
    with pytest.raises(ValueError, match="duplicates a column"):
        eng.execute(
            "MATCH (a:Person) WITH a.age AS n "
            "WITH *, count(*) AS n RETURN n"
        )
    # collides with a kept variable name
    with pytest.raises(ValueError, match="duplicates a column"):
        eng.execute(
            "MATCH (a:Person)-[:friend]->(b) "
            "WITH *, count(*) AS b RETURN b"
        )
    # same contract inside a correlated CALL body
    with pytest.raises(ValueError, match="duplicates a column"):
        eng.execute(
            "MATCH (p:Person) CALL { WITH p MATCH (p)-[:friend]->(x) "
            "WITH p, x.age AS k WITH *, count(*) AS k RETURN k } "
            "RETURN p.name AS pn, k"
        )
    # redundant plain-variable extra is NOT an error: * already keeps it
    rows = eng.execute(
        "MATCH (a:Person)-[:friend]->(b) WITH a, b WITH *, a, "
        "count(*) AS n RETURN a.name AS an, n ORDER BY an"
    ).collect()
    assert [(r["an"], r["n"]) for r in rows] == [("Alice", 1), ("Bob", 1)]
