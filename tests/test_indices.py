"""Index types (FTS / LSH / HNSW-contract / regular), triggers, sources —
mirrors reference tests runtime/tests.rs:348-1039 shapes."""

from __future__ import annotations

import pytest


@pytest.fixture(scope="module")
def db(spark):
    from cozo_spark.datalog.engine import CozoDb

    d = CozoDb(spark)
    d.run_script(":create doc {id: Int => content: String}")
    d.run_script("""
    ?[id, content] <- [
        [1, 'the quick brown fox jumps over the lazy dog'],
        [2, 'pack my box with five dozen liquor jugs'],
        [3, 'the five boxing wizards jump quickly'],
        [4, 'a quick movement of the enemy will jeopardize five gunboats'],
        [5, 'quick zephyrs blow vexing daft jim']
    ] :put doc {id => content}
    """)
    d.run_script("::fts create doc:ft {extractor: 'content', tokenizer: 'Simple'}")
    d.run_script("::lsh create doc:near {extractor: 'content', n_perm: 32, n_gram: 2}")
    d.run_script(":create vecs {id: Int => v: <F64; 4>}")
    d.run_script("""
    ?[id, v] <- [[1, [1.0, 0.0, 0.0, 0.0]], [2, [0.0, 1.0, 0.0, 0.0]],
                 [3, [0.9, 0.1, 0.0, 0.0]], [4, [0.5, 0.5, 0.0, 0.0]]]
    :put vecs {id => v}
    """)
    d.run_script("::hnsw create vecs:ann {fields: ['v'], distance: 'Cos'}")
    return d


def test_fts_search(db):
    r = db.run_script("""
    ?[id, s] := ~doc:ft{id | query: 'quick', k: 10, bind_score: 's'}
    :order -s
    """)
    ids = [row[0] for row in r.rows]
    assert set(ids) == {1, 4, 5}  # docs containing 'quick' (not 'quickly')


def test_fts_and_or(db):
    r = db.run_script("?[id] := ~doc:ft{id | query: 'quick AND fox', k: 10}")
    assert [row[0] for row in r.rows] == [1]
    r2 = db.run_script("?[id] := ~doc:ft{id | query: 'fox OR wizards', k: 10}")
    assert sorted(row[0] for row in r2.rows) == [1, 3]
    r3 = db.run_script("?[id] := ~doc:ft{id | query: 'five NOT box', k: 10}")
    assert sorted(row[0] for row in r3.rows) == [3, 4]  # 2 has 'box'


def test_fts_phrase(db):
    r = db.run_script("?[id] := ~doc:ft{id | query: '\"quick brown fox\"', k: 10}")
    assert [row[0] for row in r.rows] == [1]
    # non-adjacent words: no phrase match
    r2 = db.run_script("?[id] := ~doc:ft{id | query: '\"quick fox\"', k: 10}")
    assert r2.rows == []


def test_fts_near(db):
    r = db.run_script("?[id] := ~doc:ft{id | query: 'NEAR/3(quick fox)', k: 10}")
    assert [row[0] for row in r.rows] == [1]
    r2 = db.run_script("?[id] := ~doc:ft{id | query: 'NEAR/1(quick dog)', k: 10}")
    assert r2.rows == []


def test_fts_index_updates_after_put(db):
    db.run_script("?[id, content] <- [[6, 'a sphinx of black quartz judge my vow']] :put doc {id => content}")
    r = db.run_script("?[id] := ~doc:ft{id | query: 'sphinx', k: 10}")
    assert [row[0] for row in r.rows] == [6]
    db.run_script("?[id] <- [[6]] :rm doc {id}")
    r2 = db.run_script("?[id] := ~doc:ft{id | query: 'sphinx', k: 10}")
    assert r2.rows == []


def test_lsh_near_duplicate(db):
    r = db.run_script("""
    ?[id, content] := ~doc:near{id, content | query: 'the quick brown fox jumped over the lazy dog', k: 2}
    """)
    assert r.rows and r.rows[0][0] == 1  # near-dup of doc 1


def test_hnsw_topk(db):
    r = db.run_script("""
    ?[id, d] := ~vecs:ann{id | query: [1.0, 0.0, 0.0, 0.0], k: 2, bind_distance: 'd'}
    :order d
    """)
    assert [row[0] for row in r.rows] == [1, 3]
    assert r.rows[0][1] == pytest.approx(0.0)


def test_hnsw_radius(db):
    r = db.run_script("""
    ?[id] := ~vecs:ann{id | query: [1.0, 0.0, 0.0, 0.0], k: 10, radius: 0.02}
    """)
    assert sorted(row[0] for row in r.rows) == [1, 3]


def test_indices_listing(db):
    r = db.run_script("::indices doc")
    assert sorted((row[0], row[1]) for row in r.rows) == [("ft", "fts"), ("near", "lsh")]


def test_index_drop(db):
    db.run_script("::fts create doc:tmp {extractor: 'content'}")
    db.run_script("::fts drop doc:tmp")
    r = db.run_script("::indices doc")
    assert "tmp" not in [row[0] for row in r.rows]


def test_triggers(spark):
    from cozo_spark.datalog.engine import CozoDb

    d = CozoDb(spark)
    d.run_script(":create main {k: Int => v: Int}")
    d.run_script(":create audit {k: Int => v: Int}")
    d.run_script("""
    ::set_triggers main
    on put { ?[k, v] := _new[k, v] :put audit {k => v} }
    """)
    d.run_script("?[k, v] <- [[1, 10], [2, 20]] :put main {k => v}")
    r = d.run_script("?[k, v] := *audit[k, v]")
    assert sorted(tuple(x) for x in r.rows) == [(1, 10), (2, 20)]
    shown = d.run_script("::show_triggers main")
    assert shown.rows[0][0] == "put"


def test_trigger_reversed_mirror_reference_shape(spark):
    """The reference's own test_trigger (runtime/tests.rs:348-396): a rm
    trigger reads _old FULL rows, and the put spec {to, fr => data} maps
    head bindings BY NAME — the mirror stores reversed keys."""
    from cozo_spark.datalog.engine import CozoDb

    d = CozoDb(spark)
    d.run_script(":create friends {fr: Int, to: Int => data: Int}")
    d.run_script(":create friendsrev {to: Int, fr: Int => data: Int}")
    d.run_script("""
    ::set_triggers friends
    on put { ?[fr, to, data] := _new[fr, to, data] :put friendsrev{ to, fr => data} }
    on rm { ?[fr, to] := _old[fr, to, data] :rm friendsrev{ to, fr } }
    """)
    d.run_script("?[fr, to, data] <- [[1,2,3]] :put friends {fr, to => data}")
    rev = [list(r) for r in
           d.run_script("?[to, fr, data] := *friendsrev{to, fr, data}").rows]
    assert rev == [[2, 1, 3]]
    d.run_script("?[fr, to] <- [[1,2], [2,3]] :rm friends {fr, to}")
    assert d.run_script("?[fr, to, data] := *friends{fr, to, data}").rows == []
    assert d.run_script("?[to, fr, data] := *friendsrev{to, fr, data}").rows == []


def test_replace_semantics_with_triggers(spark):
    """:replace fires the old relation's replace triggers BEFORE the swap,
    carries put/rm triggers over to the new relation (firing the put
    triggers for the initial rows), refuses relations with indices, and is
    rejected inside a trigger (stored.rs:59-126)."""
    import pytest

    from cozo_spark.datalog.engine import CozoDb
    from cozo_spark.datalog.translate import QueryError

    d = CozoDb(spark)
    d.run_script(":create r1 {k: Int => v: Int}")
    d.run_script(":create audit_rep {k: Int => v: Int}")
    d.run_script(":create rep_log {n: Int}")
    d.run_script("""
    ::set_triggers r1
    on put { ?[k, v] := _new[k, v] :put audit_rep {k => v} }
    on replace { ?[n] := n = 1 :put rep_log {n} }
    """)
    d.run_script("?[k, v] <- [[1, 10]] :put r1 {k => v}")
    # replace: replace-trigger fires, put triggers carry over and fire for
    # the initial rows
    d.run_script("?[k, v] <- [[5, 50]] :replace r1 {k: Int => v: Int}")
    assert d.run_script("?[n] := *rep_log[n]").rows == [[1]]
    audit = sorted(tuple(r) for r in
                   d.run_script("?[k, v] := *audit_rep{k, v}").rows)
    assert audit == [(1, 10), (5, 50)]
    # carried-over put trigger still fires on later puts
    d.run_script("?[k, v] <- [[6, 60]] :put r1 {k => v}")
    assert (6, 60) in {tuple(r) for r in
                       d.run_script("?[k, v] := *audit_rep{k, v}").rows}

    # a relation with an index refuses :replace
    d.run_script(":create r2 {k: Int => t: String}")
    d.run_script("::fts create r2:ft {extractor: 't'}")
    with pytest.raises(QueryError, match="indices"):
        d.run_script("?[k, t] <- [[1, 'x']] :replace r2 {k: Int => t: String}")

    # :replace inside a trigger is rejected
    d.run_script(":create r3 {k: Int}")
    d.run_script(":create r4 {k: Int}")
    d.run_script("""
    ::set_triggers r3
    on put { ?[k] := _new[k] :replace r4 {k: Int} }
    """)
    with pytest.raises(QueryError, match="trigger"):
        d.run_script("?[k] <- [[1]] :put r3 {k}")


def test_csv_reader(spark, tmp_path):
    from cozo_spark.datalog.engine import CozoDb

    csv = tmp_path / "data.csv"
    csv.write_text("a,b,c\n1,x,2.5\n2,y,3.5\n")
    d = CozoDb(spark)
    r = d.run_script(f"""
    ?[a, b, c] <~ CsvReader(types: ['Int', 'String', 'Float'],
                            url: 'file://{csv}', has_headers: true)
    """)
    assert sorted(tuple(x) for x in r.rows) == [(1, "x", 2.5), (2, "y", 3.5)]


def test_json_reader(spark, tmp_path):
    from cozo_spark.datalog.engine import CozoDb

    jl = tmp_path / "data.jsonl"
    jl.write_text('{"name": "a", "n": 1}\n{"name": "b", "n": 2}\n')
    d = CozoDb(spark)
    r = d.run_script(f"""
    ?[name, n] <~ JsonReader(url: 'file://{jl}', fields: ['name', 'n'])
    """)
    assert sorted(tuple(x) for x in r.rows) == [("a", 1), ("b", 2)]


def test_constant_rule(spark):
    from cozo_spark.datalog.engine import CozoDb

    d = CozoDb(spark)
    r = d.run_script("?[a, b] <~ Constant(data: [[1, 'x'], [2, 'y']])")
    assert sorted(tuple(x) for x in r.rows) == [(1, "x"), (2, "y")]


def test_reorder_sort_rule(spark):
    from cozo_spark.datalog.engine import CozoDb

    d = CozoDb(spark)
    d.run_script(":create t {x: Int => y: Int}")
    d.run_script("?[x, y] <- [[1, 30], [2, 10], [3, 20]] :put t {x => y}")
    r = d.run_script("""
    vals[x, y] := *t[x, y]
    ?[rank, x, y] <~ ReorderSort(vals[x, y], sort_by: 'y', descending: false)
    """)
    assert [tuple(row) for row in sorted(r.rows)] == [(1, 2, 10), (2, 3, 20), (3, 1, 30)]


def test_reorder_sort_expression_options(spark):
    # reorder_sort.rs:36-58: `out:` is a list of expressions over the input
    # bindings, `sort_by:` an expression; default rank is competition-style
    from cozo_spark.datalog.engine import CozoDb

    d = CozoDb(spark)
    r = d.run_script("""
    vals[] <- [[1, 10], [2, 5], [3, 8]]
    ?[rank, doubled] <~ ReorderSort(vals[x, y], out: [x * 2], sort_by: y,
                                    descending: true)
    """)
    assert sorted(tuple(row) for row in r.rows) == [(1, 2), (2, 6), (3, 4)]
    # tied sorter values share a competition rank (1, 1, 3)
    r2 = d.run_script("""
    vals[] <- [[1, 5], [2, 5], [3, 1]]
    ?[rank, x] <~ ReorderSort(vals[x, y], out: [x], sort_by: y, descending: true)
    """)
    assert sorted(tuple(row) for row in r2.rows) == [(1, 1), (1, 2), (3, 3)]
    # break_ties: true → strict row positions; skip/take window the positions
    r3 = d.run_script("""
    vals[] <- [[1, 5], [2, 5], [3, 1], [4, 0]]
    ?[rank, x] <~ ReorderSort(vals[x, y], out: [x], sort_by: y, descending: true,
                              break_ties: true, skip: 1, take: 2)
    """)
    assert sorted(tuple(row) for row in r3.rows) == [(2, 2), (3, 3)]


def test_json_reader_not_lines(spark, tmp_path):
    # jlines.rs:42 json_lines: false — whole-file JSON array of objects
    from cozo_spark.datalog.engine import CozoDb

    p = tmp_path / "arr.json"
    p.write_text('[{"name": "a", "n": 1},\n {"name": "b", "n": 2}]')
    d = CozoDb(spark)
    r = d.run_script(f"""
    ?[name, n] <~ JsonReader(url: 'file://{p}', fields: ['name', 'n'],
                             json_lines: false)
    """)
    assert sorted(tuple(x) for x in r.rows) == [("a", 1), ("b", 2)]


def test_hnsw_filter_and_binds(db):
    # HnswSearch filter + bind_vector/bind_field (data/program.rs:976-991):
    # filter excludes the exact match (id 1) before top-k
    r = db.run_script("""
    ?[id, d, vec, fld] := ~vecs:ann{id | query: [1.0, 0.0, 0.0, 0.0], k: 2,
                                    bind_distance: 'd', bind_vector: 'vec',
                                    bind_field: 'fld', filter: id != 1}
    :order d
    """)
    assert [row[0] for row in r.rows] == [3, 4]
    assert r.rows[0][2] == [0.9, 0.1, 0.0, 0.0]
    assert r.rows[0][3] == "v"


def test_fts_score_kind_and_filter(db):
    # score_kind: 'tf' drops the idf factor; filter restricts BEFORE top-k
    r = db.run_script("""
    ?[id, s] := ~doc:ft{id | query: 'quick', k: 10, bind_score: 's',
                        score_kind: 'tf', filter: id > 1}
    """)
    ids = sorted(row[0] for row in r.rows)
    assert 1 not in ids and ids == [4, 5]
    assert all(row[1] > 0 for row in r.rows)


def test_lsh_filter_option(db):
    # LshSearch filter: (data/program.rs:1151) — excludes doc 1 pre-top-k
    base = db.run_script("""
    ?[id] := ~doc:near{id | query: 'the quick brown fox jumped over the lazy dog', k: 5}
    """)
    filt = db.run_script("""
    ?[id] := ~doc:near{id | query: 'the quick brown fox jumped over the lazy dog',
                       k: 5, filter: id != 1}
    """)
    base_ids = {row[0] for row in base.rows}
    filt_ids = {row[0] for row in filt.rows}
    assert 1 in base_ids and 1 not in filt_ids
    assert filt_ids == base_ids - {1}


def test_csv_reader_http_url(spark, tmp_path):
    # csv.rs:56-99 accepts http(s):// URLs; we stage them to a temp file
    import http.server
    import threading

    from cozo_spark.datalog.engine import CozoDb

    (tmp_path / "h.csv").write_text("a,b\n1,x\n2,y\n")
    handler = lambda *a, **k: http.server.SimpleHTTPRequestHandler(
        *a, directory=str(tmp_path), **k)
    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), handler)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    try:
        port = srv.server_address[1]
        d = CozoDb(spark)
        r = d.run_script(f"""
        ?[a, b] <~ CsvReader(types: ['Int', 'String'],
                             url: 'http://127.0.0.1:{port}/h.csv',
                             has_headers: true)
        """)
        assert sorted(tuple(x) for x in r.rows) == [(1, "x"), (2, "y")]
    finally:
        srv.shutdown()


def test_reorder_sort_take_zero(spark):
    """Regression: an explicit take: 0 returns zero rows (previously `if take:`
    treated 0 as unset and returned every row)."""
    from cozo_spark.datalog.engine import CozoDb

    d = CozoDb(spark)
    r = d.run_script("""
    vals[] <- [[1, 5], [2, 3]]
    ?[rank, x] <~ ReorderSort(vals[x, y], out: [x], sort_by: y, take: 0)
    """)
    assert r.rows == []


# --- FTS analyzer edge cases (reference fts/ast.rs, fts/indexing.rs) -----------


def _stop_idx(spark):
    from cozo_spark.operators.fts import FtsIndex

    docs = spark.createDataFrame(
        [(1, "the quick brown fox"), (2, "a lazy dog sleeps"),
         (3, "apples and oranges")],
        "doc_id int, text string")
    return FtsIndex.build(docs, "text", "doc_id", "Simple",
                          ("Lowercase", "Stopwords", "AlphaNumOnly"))


def test_fts_all_stopword_query_returns_empty(spark):
    """A query of only stopwords returns an empty set, not an error
    (fts/indexing.rs:257-260: empty AST -> Ok(vec![]))."""
    idx = _stop_idx(spark)
    assert idx.search("the", k=10).count() == 0
    assert idx.search("the and a", k=10).count() == 0


def test_fts_prefix_skips_dropping_filters(spark):
    """Prefix literals bypass the analyzer's dropping filters
    (fts/ast.rs:21-25 pushes is_prefix literals untokenized): 'a*' must
    prefix-scan, not be swallowed by Stopwords."""
    idx = _stop_idx(spark)
    got = {r["doc_id"] for r in idx.search("a*", k=10).collect()}
    assert got == {3}  # 'apples' ('and'/'a' are stopped out of the index)


def test_fts_alphanum_symmetry(spark):
    """AlphaNumOnly uses the same character class on both sides: an
    underscore token is dropped from index AND query."""
    from cozo_spark.operators.fts import py_apply_filters

    assert py_apply_filters(["foo_bar", "baz"], ("AlphaNumOnly",)) == ["baz"]


def test_fts_filter_spec_list_args(spark):
    """String-form filter specs with list args parse as literals
    (previously \"SplitCompoundWords(['of','the'])\" was comma-split into
    character fragments)."""
    from cozo_spark.operators.fts import normalize_filters

    (name, args), = normalize_filters("SplitCompoundWords(['of', 'the'])")
    assert name == "SplitCompoundWords"
    assert args == [["of", "the"]]


def test_fts_no_driver_actions_per_term(spark):
    """Scoring reads each term's doc_freq from its posting rows, stored
    there when the index is built, instead of collect()-ing a df count per
    query term: building the scored plan must trigger zero Spark jobs."""
    idx = _stop_idx(spark)
    tracker = spark.sparkContext.statusTracker()
    before = len(tracker.getJobIdsForGroup(None) or [])
    _plan = idx.search("quick AND fox", k=5)  # build only, no action
    after = len(tracker.getJobIdsForGroup(None) or [])
    assert after == before


def test_fts_score_kind_is_per_call_across_threads(spark):
    """score_kind belongs to one search call: threads that search one index
    at once, alternating 'tf' and 'tf_idf', each get their own kind's
    scores (the kind was once instance state that a concurrent call could
    overwrite while another built its plan)."""
    from concurrent.futures import ThreadPoolExecutor

    idx = _stop_idx(spark)
    query = "quick OR lazy OR apples"

    def scores(kind):
        return sorted((r["doc_id"], round(r["score"], 9))
                      for r in idx.search(query, k=10,
                                          score_kind=kind).collect())

    want = {kind: scores(kind) for kind in ("tf", "tf_idf")}
    assert want["tf"] != want["tf_idf"]
    kinds = ["tf", "tf_idf"] * 8
    with ThreadPoolExecutor(4) as pool:
        got = list(pool.map(scores, kinds))
    assert [g == want[k] for g, k in zip(got, kinds)] == [True] * len(kinds)


def test_fts_binding_a_non_key_column_reads_the_relation(db):
    """A search atom that binds a column other than the key joins the
    relation back for it; one that binds only the key reads just the
    index."""
    r = db.run_script("""
    ?[id, content, s] := ~doc:ft{id, content | query: 'quick', k: 10,
                                 bind_score: 's'}
    """)
    text = {1: "the quick brown fox jumps over the lazy dog",
            4: "a quick movement of the enemy will jeopardize five gunboats",
            5: "quick zephyrs blow vexing daft jim"}
    assert sorted((row[0], row[1]) for row in r.rows) == sorted(text.items())
    keyed = db.run_script(
        "?[id, s] := ~doc:ft{id | query: 'quick', k: 10, bind_score: 's'}")
    assert sorted(map(tuple, keyed.rows)) == sorted((row[0], row[2])
                                                    for row in r.rows)
    plan = db.run_script_df(
        "?[id, s] := ~doc:ft{id | query: 'quick', k: 10, bind_score: 's'}"
    )._jdf.queryExecution().optimizedPlan().toString()
    assert "content" not in plan and "Join" not in plan, plan


def test_lsh_binding_a_non_key_column_reads_the_relation(db):
    """LSH search: the relation is joined back only for a non-key column,
    and the key-only frame gives the same ids."""
    q = "the quick brown fox jumped over the lazy dog"
    full = db.run_script(
        f"?[id, content] := ~doc:near{{id, content | query: '{q}', k: 5}}")
    assert any(row[1].startswith("the quick brown fox") for row in full.rows)
    script = f"?[id] := ~doc:near{{id | query: '{q}', k: 5}}"
    keyed = db.run_script(script)
    assert sorted(row[0] for row in keyed.rows) == sorted(
        row[0] for row in full.rows)
    plan = db.run_script_df(script)._jdf.queryExecution().optimizedPlan()
    assert "content" not in plan.toString(), plan.toString()


def test_search_frames_claim_the_key_only_when_trusted(spark):
    """FTS and LSH frames hold one row per document, so over a relation
    with trusted keys the entry rule needs no distinct. A relation
    registered without keys makes no uniqueness promise: duplicate rows
    joined back for a non-key column are still deduplicated."""
    from cozo_spark.datalog.engine import CozoDb
    from tests.test_plan_quality import _n_aggregates

    rows = [(1, "red apple pie"), (1, "red apple pie"), (2, "green apple"),
            (3, "blue sky")]
    d = CozoDb(spark)
    d.register_dataframe("kd", spark.createDataFrame(
        rows[1:], "id long, t string"), keys=["id"])
    d.register_dataframe("ud", spark.createDataFrame(
        rows, "id long, t string"))
    for rel in ("kd", "ud"):
        d.run_script(f"::fts create {rel}:ft {{extractor: 't'}}")
        d.run_script(f"::lsh create {rel}:near {{extractor: 't', n_perm: 32, "
                     "n_gram: 2}")
    fts = "?[id, t] := ~{rel}:ft{{id, t | query: 'apple', k: 10}}"
    lsh = "?[id] := ~{rel}:near{{id | query: 'red apple pie', k: 10}}"
    n_aggs = {}
    for rel in ("kd", "ud"):
        out = d.run_script_df(fts.format(rel=rel))
        assert sorted(map(tuple, out.collect())) == [
            (1, "red apple pie"), (2, "green apple")]
        lsh_out = d.run_script_df(lsh.format(rel=rel))
        assert 1 in {r[0] for r in lsh_out.collect()}
        n_aggs[rel] = (_n_aggregates(out), _n_aggregates(lsh_out))
    # the LSH plan aggregates its probe and candidates in both relations;
    # the untrusted one adds the entry rule's distinct to either search
    assert n_aggs["kd"][0] == 0, n_aggs
    assert n_aggs["ud"] == (1, n_aggs["kd"][1] + 1), n_aggs


def test_fts_incremental_doc_freq_matches_a_fresh_build(spark):
    """After a :put that adds documents holding a term and a :rm of some,
    the patched index carries the same doc_freq, and so the same scores,
    as an index built from scratch over the final rows."""
    from cozo_spark.datalog.engine import CozoDb

    def make(rows):
        d = CozoDb(spark)
        d.run_script(":create fd {id: Int => t: String}")
        d.run_script(f"?[id, t] <- {rows!r} :put fd {{id => t}}")
        d.run_script("::fts create fd:ft {extractor: 't'}")
        return d

    script = "?[id, s] := ~fd:ft{id | query: 'alpha OR beta', k: 10, bind_score: s}"
    first = [[1, "alpha beta"], [2, "alpha gamma"], [3, "delta"]]
    d = make(first)
    assert len(d.run_script(script).rows) == 2  # builds the index
    d.run_script("?[id, t] <- [[4, 'alpha alpha'], [5, 'beta epsilon'], "
                 "[3, 'alpha delta']] :put fd {id => t}")
    d.run_script("?[id] <- [[2]] :rm fd {id}")
    fresh = make([[1, "alpha beta"], [3, "alpha delta"], [4, "alpha alpha"],
                  [5, "beta epsilon"]])

    def index_rows(db):
        art = db.relations["fd"].indices["ft"].artifact
        return sorted(tuple(r) for r in art.df.select(
            "term", "doc_id", "tf", "doc_freq").collect())

    got = sorted(map(tuple, d.run_script(script).rows))
    want = sorted(map(tuple, fresh.run_script(script).rows))
    assert [r[0] for r in got] == [1, 3, 4, 5]
    assert got == want
    assert index_rows(d) == index_rows(fresh)


def test_fts_aborted_transaction_leaves_the_index(spark):
    """A write inside a transaction patches the transaction's own copy of
    the index: after an abort the base relation's searches do not see it."""
    from cozo_spark.datalog.engine import CozoDb

    d = CozoDb(spark)
    d.run_script(":create tx {id: Int => t: String}")
    d.run_script("?[id, t] <- [[1, 'alpha']] :put tx {id => t}")
    d.run_script("::fts create tx:ft {extractor: 't'}")
    script = "?[id] := ~tx:ft{id | query: 'alpha', k: 5}"
    assert d.run_script(script).rows == [[1]]
    txn = d.multi_transaction(write=True)
    txn.run_script("?[id, t] <- [[2, 'alpha beta']] :put tx {id => t}")
    assert sorted(r[0] for r in txn.run_script(script).rows) == [1, 2]
    txn.abort()
    assert d.run_script(script).rows == [[1]]


def test_cangjie_cjk_tokenizer(spark):
    """Cangjie CJK tokenizer (fts/cangjie/tokenizer.rs; reference test
    runtime/tests.rs:1069+ 'tokenizers'): the reference's default worker is
    Jieba::empty(), whose cut() yields per-Han-char tokens + non-CJK
    alphanumeric runs — implemented here as a JVM regex."""
    from cozo_spark.operators.fts import py_cangjie_tokenize
    from cozo_spark.datalog.engine import CozoDb

    assert py_cangjie_tokenize("这个产品Finchat.io是") == [
        "这", "个", "产", "品", "Finchat", "io", "是"]
    assert py_cangjie_tokenize("ab", "unicode") == ["a", "b"]

    d = CozoDb(spark)
    d.run_script(":create zh {id: Int => t: String}")
    d.run_script("?[id, t] <- [[1, '这个产品是一个文档问答类网站'], "
                 "[2, '接入ChatGPT进行对话']] :put zh {id => t}")
    d.run_script("::fts create zh:ft {extractor: 't', tokenizer: 'Cangjie'}")
    assert [r[0] for r in d.run_script(
        "?[id] := ~zh:ft{id | query: '文档', k: 5}").rows] == [1]
    # multi-char query = per-char phrase with positional adjacency
    assert [r[0] for r in d.run_script(
        "?[id] := ~zh:ft{id | query: '问答类', k: 5}").rows] == [1]
    # ascii runs stay whole and case-fold
    assert [r[0] for r in d.run_script(
        "?[id] := ~zh:ft{id | query: 'chatgpt', k: 5}").rows] == [2]
    # non-matching phrase
    assert d.run_script("?[id] := ~zh:ft{id | query: '档文', k: 5}").rows == []


def test_cangjie_dict_max_match(spark):
    """Dict mode (fts/cangjie/tokenizer.rs dict modes): a word list turns
    the per-char tokenizer into greedy forward maximum matching — a
    dict-listed two-char word is indexed and retrieved as ONE token."""
    from cozo_spark.operators.fts import py_cangjie_tokenize
    from cozo_spark.datalog.engine import CozoDb

    # driver-side mirror: dict words win over per-char; longest-first
    assert py_cangjie_tokenize("这个文档问答", words=("文档", "文档问答")) == [
        "这", "个", "文档问答"]
    assert py_cangjie_tokenize("机器学习很好", words=("机器", "学习")) == [
        "机器", "学习", "很", "好"]

    d = CozoDb(spark)
    d.run_script(":create zhd {id: Int => t: String}")
    d.run_script("?[id, t] <- [[1, '机器学习是未来'], [2, '这台机器坏了']] "
                 ":put zhd {id => t}")
    d.run_script('::fts create zhd:ft {extractor: \'t\', '
                 'tokenizer: "Cangjie(\'default\', [\'机器\', \'学习\'])"}')
    # '机器' indexed as one token: both docs contain it
    got = sorted(r[0] for r in d.run_script(
        "?[id] := ~zhd:ft{id | query: '机器', k: 5}").rows)
    assert got == [1, 2]
    # '学习' only in doc 1 — and as ONE token, not the per-char phrase
    assert [r[0] for r in d.run_script(
        "?[id] := ~zhd:ft{id | query: '学习', k: 5}").rows] == [1]
    # non-dict CJK text still segments per-char ('未来' = [未, 来] phrase)
    assert [r[0] for r in d.run_script(
        "?[id] := ~zhd:ft{id | query: '未来', k: 5}").rows] == [1]


def test_lsh_band_planning():
    """find_optimal_lsh_params mirrors the reference planner
    (runtime/minhash_lsh.rs:260-290): minimize weighted FP+FN of the
    banding S-curve; b·r <= num_perm; higher thresholds pick longer bands
    (more rows per band = stricter collisions)."""
    from cozo_spark.operators.dedup import find_optimal_lsh_params

    for t, n in ((0.9, 200), (0.5, 200), (0.3, 64), (0.7, 128)):
        b, r = find_optimal_lsh_params(t, n)
        assert 1 <= b and 1 <= r and b * r <= n
    _, r_low = find_optimal_lsh_params(0.3, 128)
    _, r_high = find_optimal_lsh_params(0.9, 128)
    assert r_high > r_low
    # penalizing false positives pushes toward stricter (longer) bands
    _, r_bal = find_optimal_lsh_params(0.7, 128)
    _, r_fp = find_optimal_lsh_params(0.7, 128, 10.0, 1.0)
    assert r_fp >= r_bal
    # regression pins (values from this implementation, shape-checked
    # against the reference's planner behavior)
    assert find_optimal_lsh_params(0.9, 200) == (8, 25)
    assert find_optimal_lsh_params(0.5, 200) == (33, 6)


def test_lsh_create_honors_target_threshold(spark):
    """::lsh create plans (n_bands, n_rows_in_band) from target_threshold
    and uses b·r as the effective perm count (relation.rs:793-801)."""
    from cozo_spark.datalog.engine import CozoDb
    from cozo_spark.operators.indices import ensure_artifact
    from cozo_spark.operators.dedup import find_optimal_lsh_params

    d = CozoDb(spark)
    d.run_script(":create docs2 {id: Int => t: String}")
    d.run_script("?[id, t] <- [[1, 'aaa bbb ccc ddd eee'], [2, 'aaa bbb ccc ddd fff']] "
                 ":put docs2 {id => t}")
    d.run_script("::lsh create docs2:l {extractor: 't', n_perm: 64, n_gram: 2, "
                 "target_threshold: 0.5}")
    art = ensure_artifact(d, d.relations["docs2"], "l").artifact
    b, r = find_optimal_lsh_params(0.5, 64)
    assert (art["n_bands"], art["n_rows"]) == (b, r)
    assert art["n_perm"] == b * r
    # search still works through the banded path
    res = d.run_script("?[id] := ~docs2:l{id | query: 'aaa bbb ccc ddd eee', k: 2}")
    assert 1 in [row[0] for row in res.rows]


def test_lsh_bucket_cap_observed(spark):
    """no-silent-caps: dropped-bucket stats are emitted as observed metrics
    on the normal action (zero extra jobs)."""
    from cozo_spark.operators.dedup import minhash_lsh_dedup_pairs

    captured = {}

    class L:
        def onSuccess(self, funcName, qe, duration):
            for k, v in qe.observedMetrics().items():
                captured[k] = v
        def onFailure(self, funcName, qe, error):
            pass

    docs = spark.createDataFrame(
        [(i, f"common shingle text everywhere {i % 2}") for i in range(10)],
        "doc_id long, text string")
    pairs = minhash_lsh_dedup_pairs(docs, threshold=0.1)
    pairs.count()
    # metrics ride the plan: assert the observe node exists in the plan
    plan = pairs._jdf.queryExecution().analyzed().toString()
    assert "lsh_bucket_cap_" in plan


def test_hnsw_index_queryable_as_graph(spark):
    """README v0.6: the HNSW index's proximity graph is exposed as a regular
    relation (`*rel:idx{layer, fr_k, to_k, dist}`) so whole-graph algorithms
    run on it. Here: scan the layer-0 k-NN graph and run CC over it."""
    from cozo_spark.datalog.engine import CozoDb

    d = CozoDb(spark)
    d.run_script(":create vg {id: Int => v: <F64; 4>}")
    d.run_script("""
    ?[id, v] <- [[1, [1.0, 0.0, 0.0, 0.0]], [2, [0.0, 1.0, 0.0, 0.0]],
                 [3, [0.9, 0.1, 0.0, 0.0]], [4, [0.5, 0.5, 0.0, 0.0]]]
    :put vg {id => v}
    """)
    d.run_script("::hnsw create vg:ann {fields: ['v'], distance: 'Cos', m_neighbours: 2}")
    r = d.run_script("?[fr, to] := *vg:ann{layer: 0, fr_id: fr, to_id: to}")
    edges = sorted(tuple(x) for x in r.rows)
    assert (1, 3) in edges and (3, 1) in edges      # nearest pair linked
    assert all(len([e for e in edges if e[0] == n]) <= 2 for n in (1, 2, 3, 4))
    r2 = d.run_script("""
    edges[fr, to] := *vg:ann{fr_id: fr, to_id: to}
    ?[node, comp] <~ ConnectedComponents(edges[])
    """)
    assert sorted(tuple(x) for x in r2.rows) == [(1, 1), (2, 1), (3, 1), (4, 1)]


def test_stopwords_language_and_list_args(spark):
    """Stopwords accepts a language name or an explicit word list
    (fts/mod.rs:210-231); both sides of the analyzer agree."""
    from cozo_spark.operators.fts import FtsIndex, py_apply_filters

    assert py_apply_filters(["der", "hund", "bellt"],
                            ("Stopwords(german)",)) == ["hund", "bellt"]
    assert py_apply_filters(["foo", "bar"],
                            (("Stopwords", [["foo"]]),)) == ["bar"]

    docs = spark.createDataFrame(
        [(1, "der hund bellt"), (2, "die katze schläft")],
        "doc_id int, text string")
    idx = FtsIndex.build(docs, "text", "doc_id", "Simple",
                         ("Lowercase", "Stopwords(german)"))
    terms = {r["term"] for r in idx.df.collect()}
    assert "der" not in terms and "hund" in terms
    got = {r["doc_id"] for r in idx.search("hund", k=5).collect()}
    assert got == {1}


def test_incremental_index_maintenance(spark):
    """Built FTS/LSH artifacts are patched with a delta on mutation (only
    changed rows re-tokenize), not fully rebuilt — and results match the
    rebuild exactly."""
    from cozo_spark.datalog.engine import CozoDb
    from cozo_spark.operators.indices import ensure_artifact

    d = CozoDb(spark)
    d.run_script(":create incd {id: Int => t: String}")
    d.run_script("?[id, t] <- [[1, 'alpha beta gamma'], [2, 'delta epsilon zeta']] "
                 ":put incd {id => t}")
    d.run_script("::fts create incd:ft {extractor: 't'}")
    # force build, then mutate: the artifact must be PATCHED (not None)
    assert [r[0] for r in d.run_script(
        "?[id] := ~incd:ft{id | query: 'alpha', k: 5}").rows] == [1]
    d.run_script("?[id, t] <- [[3, 'alpha omega']] :put incd {id => t}")
    idx = d.relations["incd"].indices["ft"]
    assert idx.artifact is not None  # incremental, no lazy invalidation
    assert sorted(r[0] for r in d.run_script(
        "?[id] := ~incd:ft{id | query: 'alpha', k: 5}").rows) == [1, 3]
    assert idx.artifact.n_docs == 3  # idf denominator tracks the corpus
    # update an existing doc: old postings must vanish
    d.run_script("?[id, t] <- [[1, 'replaced text']] :put incd {id => t}")
    assert sorted(r[0] for r in d.run_script(
        "?[id] := ~incd:ft{id | query: 'alpha', k: 5}").rows) == [3]
    # rm removes postings incrementally
    d.run_script("?[id] <- [[3]] :rm incd {id}")
    assert d.run_script("?[id] := ~incd:ft{id | query: 'alpha', k: 5}").rows == []


def test_incremental_index_after_partial_update(spark):
    """:update with only some columns (NULL = keep-old semantics): the
    incremental index patch must index the POST-merge values, not the raw
    mutation rows."""
    from cozo_spark.datalog.engine import CozoDb

    d = CozoDb(spark)
    d.run_script(":create updd {id: Int => t: String, tag: Int}")
    d.run_script("?[id, t, tag] <- [[1, 'original words here', 5]] :put updd {id => t, tag}")
    d.run_script("::fts create updd:ft {extractor: 't'}")
    assert [r[0] for r in d.run_script(
        "?[id] := ~updd:ft{id | query: 'original', k: 5}").rows] == [1]
    # update only the tag; text must stay indexed
    d.run_script("?[id, tag] <- [[1, 9]] :update updd {id => tag}")
    assert [r[0] for r in d.run_script(
        "?[id] := ~updd:ft{id | query: 'original', k: 5}").rows] == [1]
    # and the tag actually changed
    assert d.run_script("?[tag] := *updd{id: 1, tag}").rows == [[9]]
