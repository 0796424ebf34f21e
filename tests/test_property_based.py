"""Property-based tests (SURVEY.md §5: "add property-based tests for the
Mongo-predicate translator and the Cypher-subset parser").

- Mongo translator: for any condition in the supported grammar, the Spark
  Column path and the driver-side dict evaluator must select the same
  documents.
- Cypher subset: any query the reference's own templates can emit
  (SURVEY.md §3.4) must parse back to exactly the generation parameters.
"""

from __future__ import annotations

import re

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from mongraph_spark.cypher_mini import parse
from mongraph_spark.mongo_expr import mongo_match, mongo_to_column

# -- Mongo translator: Column path == dict path over a fixed corpus ------------------

DOCS = [
    {"_id": "a", "name": "alice", "age": 30, "city": "Berlin"},
    {"_id": "b", "name": "bob", "age": 25, "city": "Boston"},
    {"_id": "c", "name": "Charles", "age": 35, "city": None},
    {"_id": "d", "name": "zoe", "age": None, "city": "Zurich"},
    {"_id": "e", "name": "", "age": 0, "city": "Berlin"},
]

_names = st.sampled_from(["alice", "bob", "zoe", "Charles", "", "nope"])
_ages = st.integers(min_value=-1, max_value=40)
_regexes = st.sampled_from(["o", "^[A-Z]", "e$", "li", "^$"])

_leaf = st.one_of(
    st.builds(lambda v: {"name": v}, _names),
    st.builds(lambda v: {"name": {"$ne": v}}, _names),
    st.builds(lambda v: {"name": {"$regex": v}}, _regexes),
    st.builds(lambda v: {"name": {"$not": {"$regex": v}}}, _regexes),
    st.builds(lambda v: {"age": {"$gt": v}}, _ages),
    st.builds(lambda v: {"age": {"$lte": v}}, _ages),
    st.builds(lambda v: {"age": {"$mod": [v, 0]}}, st.integers(2, 7)),
    st.builds(lambda vs: {"name": {"$in": vs}}, st.lists(_names, max_size=3)),
    st.builds(lambda vs: {"name": {"$nin": vs}}, st.lists(_names, max_size=3)),
    st.builds(lambda v: {"city": {"$exists": v}}, st.booleans()),
    st.just({"city": None}),
)

_condition = st.recursive(
    _leaf,
    lambda inner: st.one_of(
        st.builds(lambda a, b: {"$and": [a, b]}, inner, inner),
        st.builds(lambda a, b: {"$or": [a, b]}, inner, inner),
        st.builds(lambda a, b: {"$nor": [a, b]}, inner, inner),
    ),
    max_leaves=4,
)


@pytest.fixture(scope="module")
def corpus_df(spark):
    return spark.createDataFrame(
        DOCS, "_id string, name string, age long, city string"
    ).cache()


@given(cond=_condition)
@settings(
    max_examples=30,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_mongo_paths_agree(corpus_df, cond):
    spark_ids = sorted(
        r._id
        for r in corpus_df.filter(mongo_to_column(cond)).select("_id").collect()
    )
    dict_ids = sorted(d["_id"] for d in DOCS if mongo_match(d, cond))
    assert spark_ids == dict_ids, f"disagreement on {cond}"


# -- Cypher subset parser: generated template queries round-trip ----------------------
#
# The generator below emits exactly the closed set of shapes the reference's
# own string templates produce (src/extendDocument.coffee:92-109, :344-348,
# :360-364; SURVEY.md §3.4).

_dirs = st.sampled_from(["incoming", "outgoing", "both"])
_types = st.one_of(
    st.none(),
    st.lists(
        st.sampled_from(["knows", "visits", "LOVE", "KNOW"]),
        min_size=1,
        max_size=3,
        unique=True,
    ),
)
_actions = st.sampled_from(["RETURN", "DELETE"])
_counts = st.sampled_from([None, "r", "a", "*", "distinct a"])
_node_ids = st.lists(st.integers(0, 10**6), min_size=1, max_size=3, unique=True)


def _arrow(direction: str, types: list[str] | None) -> str:
    t = "" if not types else ":" + "|".join(types)
    rel = f"[r{t}]"
    if direction == "incoming":
        return f"<-{rel}-"
    if direction == "outgoing":
        return f"-{rel}->"
    return f"-{rel}-"


@given(
    ids=_node_ids,
    direction=_dirs,
    types=_types,
    action=_actions,
    count=_counts,
    where=st.sampled_from([None, "r.since = 'years'", "r.category! = 'x'"]),
)
@settings(max_examples=200, deadline=None)
def test_cypher_onehop_roundtrip(ids, direction, types, action, count, where):
    id_list = ", ".join(str(i) for i in ids)
    where_clause = f" WHERE {where}" if where else ""
    part = "r" if count is None else f"count({count})"
    cypher = (
        f"START a = node({id_list}) "
        f"MATCH (a){_arrow(direction, types)}(b)"
        f"{where_clause} {action} {part};"
    )
    q = parse(cypher)
    assert q["starts"]["a"] == ids
    assert q["direction"] == direction
    assert q["types"] == (types if types else None)
    assert q["action"] == action
    assert q["where"] == where
    if count is None:
        assert q["parts"] == ["r"]
    elif count == "distinct a":
        assert q["count_distinct"] == "a"
    else:
        assert q["count"] == count


@given(ids=st.tuples(st.integers(0, 10**6), st.integers(0, 10**6)), hops=st.integers(1, 15))
@settings(max_examples=50, deadline=None)
def test_cypher_shortest_path_roundtrip(ids, hops):
    a, b = ids
    cypher = (
        f"START a = node({a}), b = node({b}) "
        f"MATCH path = shortestPath( a-[:knows*..{hops}]->b ) RETURN path;"
    )
    q = parse(cypher)
    assert q["shortest"] is True
    assert q["starts"] == {"a": [a], "b": [b]}
    assert q["max_hops"] == hops
    assert q["types"] == ["knows"]
    assert q["parts"] == ["path"]


@given(n=st.integers(0, 10**6))
@settings(max_examples=20, deadline=None)
def test_cypher_delete_node_template_roundtrip(n):
    cypher = f"START n = node({n}) OPTIONAL MATCH n-[r]-() DELETE n, r;"
    q = parse(cypher)
    assert q["optional"] is True
    assert q["starts"]["n"] == [n]
    assert q["action"] == "DELETE"
    assert q["parts"] == ["n", "r"]


# -- CoW store: random mutation sequences vs a dict model ----------------------------
#
# Model-based check of sources/merge.py: any interleaving of upsert /
# delete_where / merge_into / compact / rebucket / restore over a bucketed table
# must leave read_current equal to a plain-Python dict model applying the
# same operations.  Catches cross-feature interactions (e.g. an evolved
# column through compaction, a merge-delete on a bucket another op carried
# forward) that the per-feature tests can't.


@st.composite
def _store_ops(draw):
    ops = []
    for _ in range(draw(st.integers(min_value=2, max_value=5))):
        kind = draw(
            st.sampled_from(
                ["upsert", "delete", "merge", "compact", "rebucket", "restore"]
            )
        )
        if kind == "upsert":
            keys = draw(st.lists(st.integers(0, 30), min_size=1, max_size=4, unique=True))
            rev = draw(st.integers(1, 9))
            ops.append(("upsert", keys, rev))
        elif kind == "delete":
            ops.append(("delete", draw(st.integers(0, 30)), None))
        elif kind == "merge":
            keys = draw(st.lists(st.integers(0, 35), min_size=1, max_size=3, unique=True))
            ops.append(("merge", keys, draw(st.integers(1, 9))))
        elif kind == "rebucket":
            ops.append(("rebucket", draw(st.sampled_from([2, 8])), None))
        elif kind == "restore":
            # index drawn against the history length at execution time
            ops.append(("restore", draw(st.integers(0, 10)), None))
        else:
            ops.append(("compact", None, None))
    return ops


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(ops=_store_ops())
def test_store_matches_dict_model(spark, tmp_path_factory, ops):
    from pyspark.sql import functions as F

    from mongraph_spark.sources import merge as M

    root = str(tmp_path_factory.mktemp("prop") / "tbl")
    base = [(i, f"n{i}", 0) for i in range(20)]
    M.init_table(
        spark.createDataFrame(base, "id long, name string, rev long"),
        root, key="id", n_buckets=4,
    )
    model = {i: (f"n{i}", 0) for i in range(20)}
    # version history for restore: (version number, model snapshot);
    # rebucket sets the fence restore must refuse to cross
    history = [(0, dict(model))]
    fence = None

    for kind, a, b in ops:
        if kind == "rebucket":
            ver = M.rebucket(spark, root, a)
            fence = int(ver.split("_")[1])
        elif kind == "restore":
            tgt_ver, tgt_model = history[a % len(history)]
            if fence is not None and tgt_ver < fence:
                import pytest as _pytest

                with _pytest.raises(ValueError, match="rebucketed"):
                    M.restore(root, version=tgt_ver)
            else:
                M.restore(root, version=tgt_ver)
                model = dict(tgt_model)
        elif kind == "upsert":
            rows = [(k, f"u{k}", b) for k in a]
            M.upsert(
                spark,
                root,
                spark.createDataFrame(rows, "id long, name string, rev long"),
                key="id",
                order_col="rev",
            )
            for k in a:
                model[k] = (f"u{k}", b)
        elif kind == "delete":
            M.delete_where(spark, root, F.col("id") == a)
            model.pop(a, None)
        elif kind == "merge":
            rows = [(k, f"m{k}", b) for k in a]
            M.merge_into(
                spark,
                root,
                spark.createDataFrame(rows, "id long, name string, rev long"),
                when_matched_set={"name": "src_name", "rev": "rev + 100"},
            )
            for k in a:
                if k in model:
                    model[k] = (f"m{k}", model[k][1] + 100)
                else:
                    model[k] = (f"m{k}", b)
        else:
            M.compact(spark, root, max_files_per_bucket=1)
        history.append(
            (int(M.current_version(root).split("_")[1]), dict(model))
        )

    got = {
        r.id: (r.name, r.rev)
        for r in M.read_current(spark, root).drop("__bucket").collect()
    }
    assert got == model


# -- span RLE detector == brute-force diagonal walk ----------------------------------
#
# For ANY corpus, the positioned-gram + gaps-and-islands detector must
# report exactly the maximal cross-doc token runs of length >= min_span
# (a token run of L >= k contributes exactly L-k+1 consecutive matching
# grams on one diagonal).  Tiny alphabet on purpose: accidental matches
# everywhere, so runs split/merge/abut in adversarial ways.

_SPAN_K, _SPAN_MIN = 3, 4


def _brute_spans(docs: dict[int, list[str]]) -> set[tuple]:
    out = set()
    ids = sorted(docs)
    for i, ia in enumerate(ids):
        for ib in ids[i + 1 :]:
            a, b = docs[ia], docs[ib]
            for d in range(-(len(b) - 1), len(a)):
                run = 0
                for pa in range(max(0, d), min(len(a), len(b) + d) + 1):
                    match = (
                        pa < len(a)
                        and 0 <= pa - d < len(b)
                        and a[pa] == b[pa - d]
                    )
                    if match:
                        run += 1
                    else:
                        if run >= _SPAN_MIN:
                            out.add((ia, ib, pa - run + 1, pa - run - d + 1, run))
                        run = 0
    return out


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.lists(st.sampled_from(["a", "b", "c"]), min_size=1, max_size=26),
        min_size=2,
        max_size=4,
    )
)
def test_span_detector_equals_bruteforce(spark, docs_tokens):
    from mongraph_spark.queries.dedup import span_pairs

    docs = {i: toks for i, toks in enumerate(docs_tokens)}
    df = spark.createDataFrame(
        [(i, " ".join(t)) for i, t in docs.items()], "doc_id long, text string"
    )
    got = {
        (r.id_a, r.id_b, r.start_a, r.start_b, r.span_tokens)
        for r in span_pairs(df, _SPAN_K, _SPAN_MIN).collect()
    }
    assert got == _brute_spans(docs)


# -- racing writers == sequential model (optimistic concurrency) ---------------
#
# For ANY interleaving of two live writers racing disjoint-key upserts under
# commit_with_retry, the claim protocol must serialize them into SOME order;
# disjoint keys make the two orders commute, so the final table must equal
# the sequential model with both batches applied and the version log must
# advance exactly once per writer (no lost update, no duplicate commit).


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=list(HealthCheck),
)
@given(
    keys1=st.sets(st.integers(0, 9), min_size=1, max_size=4),
    keys2=st.sets(st.integers(10, 19), min_size=1, max_size=4),
    rounds=st.integers(1, 2),
)
def test_racing_writers_match_sequential_model(
    spark, tmp_path_factory, keys1, keys2, rounds
):
    import threading

    from mongraph_spark.sources import merge as M

    root = str(tmp_path_factory.mktemp("race") / "tbl")
    base = [(i, f"n{i}", 0) for i in range(20)]
    M.init_table(
        spark.createDataFrame(base, "id long, name string, rev long"),
        root, key="id", n_buckets=4,
    )
    model = {i: (f"n{i}", 0) for i in range(20)}

    for rnd in range(1, rounds + 1):
        errs = []

        def writer(keys, tag, rnd=rnd):
            rows = [(k, f"{tag}{k}r{rnd}", rnd) for k in sorted(keys)]
            batch = spark.createDataFrame(rows, "id long, name string, rev long")
            try:
                M.commit_with_retry(
                    lambda: M.upsert(spark, root, batch, key="id", order_col="rev"),
                    max_retries=30,
                    backoff_s=0.2,
                )
            except Exception as exc:  # noqa: BLE001
                errs.append(exc)

        t1 = threading.Thread(target=writer, args=(keys1, "a"))
        t2 = threading.Thread(target=writer, args=(keys2, "b"))
        t1.start(); t2.start(); t1.join(); t2.join()
        assert not errs, errs
        for k in keys1:
            model[k] = (f"a{k}r{rnd}", rnd)
        for k in keys2:
            model[k] = (f"b{k}r{rnd}", rnd)
        # exactly one committed version per writer per round
        assert M.current_version(root) == f"v_{2 * rnd:05d}"

    got = {
        r.id: (r.name, r.rev)
        for r in M.read_current(spark, root).drop("__bucket").collect()
    }
    assert got == model


# -- racing REBASE writers == sequential model, zero recompute when disjoint ----
#
# The rebase protocol's serializability matrix: for ANY pair of key sets,
# two racing occ="rebase" writers must converge to the sequential model;
# when their key sets hash to DISJOINT buckets, neither writer may surface
# a CommitConflict at all (both staged commits land — the Delta-style
# "disjoint transactions don't retry" guarantee).


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=list(HealthCheck),
)
@given(
    keys1=st.sets(st.integers(0, 9), min_size=1, max_size=4),
    keys2=st.sets(st.integers(10, 19), min_size=1, max_size=4),
)
def test_racing_rebase_writers_match_sequential_model(
    spark, tmp_path_factory, keys1, keys2
):
    import threading

    from mongraph_spark.sources import merge as M

    root = str(tmp_path_factory.mktemp("rebase_race") / "tbl")
    base = [(i, f"n{i}", 0) for i in range(20)]
    M.init_table(
        spark.createDataFrame(base, "id long, name string, rev long"),
        root, key="id", n_buckets=4,
    )
    bucket = {
        r.id: str(r.b)
        for r in spark.createDataFrame([(i,) for i in range(20)], "id long")
        .select("id", M._bucket_expr("id", 4).alias("b"))
        .collect()
    }
    disjoint = not ({bucket[k] for k in keys1} & {bucket[k] for k in keys2})
    errs, conflicts = [], []

    def writer(keys, tag):
        rows = [(k, f"{tag}{k}", 1) for k in sorted(keys)]
        batch = spark.createDataFrame(rows, "id long, name string, rev long")

        def mut():
            try:
                return M.upsert(
                    spark, root, batch, key="id", order_col="rev", occ="rebase"
                )
            except M.CommitConflict:
                conflicts.append(tag)
                raise

        try:
            M.commit_with_retry(mut, max_retries=30, backoff_s=0.2)
        except Exception as exc:  # noqa: BLE001
            errs.append(exc)

    t1 = threading.Thread(target=writer, args=(keys1, "a"))
    t2 = threading.Thread(target=writer, args=(keys2, "b"))
    t1.start(); t2.start(); t1.join(); t2.join()
    assert not errs, errs
    if disjoint:
        # the matrix's payoff: disjoint-bucket writers NEVER conflict
        assert conflicts == [], conflicts
    assert M.current_version(root) == "v_00002"
    model = {i: (f"n{i}", 0) for i in range(20)}
    for k in keys1:
        model[k] = (f"a{k}", 1)
    for k in keys2:
        model[k] = (f"b{k}", 1)
    got = {
        r.id: (r.name, r.rev)
        for r in M.read_current(spark, root).drop("__bucket").collect()
    }
    assert got == model


# -- BPE trainer == independent single-process trainer -------------------------
#
# For ANY corpus, the distributed trainer must learn EXACTLY the merge list
# a reference in-memory BPE trainer learns: same pairs in the same order,
# same selection counts, same post-merge corpus token totals.  Random
# corpora over a tiny alphabet force heavy count ties, so this also proves
# the (count DESC, pair ASC) tie-break is total and engine-independent.


def _brute_bpe(texts: list[str], rounds: int):
    import collections
    import re

    state = [re.sub(r"(.)", lambda m: m.group(1) + " ", t.lower()) for t in texts]
    out = []
    for rank in range(1, rounds + 1):
        cnt = collections.Counter()
        for t in state:
            toks = t.split(" ")
            for a, b in zip(toks, toks[1:]):
                if a and b:
                    cnt[(a, b)] += 1
        if not cnt:
            break
        (w1, w2), c = min(cnt.items(), key=lambda kv: (-kv[1], kv[0]))
        state = [t.replace(f"{w1} {w2}", w1 + w2) for t in state]
        n_after = sum(len([x for x in t.split(" ") if x]) for t in state)
        out.append((rank, w1, w2, c, n_after))
    return out


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.text(alphabet="ab c", min_size=1, max_size=18),
        min_size=1,
        max_size=4,
    )
)
def test_bpe_trainer_equals_bruteforce(spark, texts):
    from mongraph_spark.queries.text import bpe_train_merges
    from pyspark.sql import functions as F

    df = spark.createDataFrame([(t,) for t in texts], "text string")
    state = df.select(
        F.regexp_replace(F.lower("text"), "(.)", "$1 ").alias("t")
    )
    got = bpe_train_merges(state, 3)
    assert got == _brute_bpe(texts, 3)


# -- UniMax water-fill: Spark closed form == independent greedy reference ------------


@st.composite
def _unimax_cases(draw):
    n = draw(st.integers(min_value=1, max_value=7))
    counts = {
        f"l{i}": draw(st.integers(min_value=1, max_value=1_000_000))
        for i in range(n)
    }
    epoch_cap = draw(st.integers(min_value=1, max_value=4))
    budget_num, budget_den = draw(
        st.sampled_from([(3, 2), (1, 1), (2, 1), (5, 1), (1, 3)])
    )
    return counts, epoch_cap, budget_num, budget_den


def _first_uncapped(order, caps, budget):
    remaining = budget
    for i, lang in enumerate(order):
        m = len(order) - i
        if caps[lang] * m < remaining:
            remaining -= caps[lang]
        else:
            return i
    return len(order)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(_unimax_cases())
def test_unimax_matches_greedy_reference(spark, case):
    counts, epoch_cap, budget_num, budget_den = case
    from mongraph_spark.queries.corpus import unimax_allocate

    stats = spark.createDataFrame(
        [(lang, n) for lang, n in counts.items()], "lang string, n_tokens long"
    )
    got = {
        r.lang: (r.n_tokens, r.cap_tokens, r.is_capped, r.alloc_tokens)
        for r in unimax_allocate(stats, epoch_cap, budget_num, budget_den).collect()
    }
    caps = {lang: epoch_cap * n for lang, n in counts.items()}
    order = sorted(caps, key=lambda lang: (caps[lang], lang))
    cut = _first_uncapped(order, caps, sum(counts.values()) * budget_num // budget_den)
    capped = set(order[:cut])
    budget = sum(counts.values()) * budget_num // budget_den
    line = (
        (budget - sum(caps[lang] for lang in capped)) // (len(order) - cut)
        if cut < len(order)
        else None
    )
    for lang, n in counts.items():
        want_alloc = caps[lang] if lang in capped else line
        assert got[lang] == (n, caps[lang], 1 if lang in capped else 0, want_alloc), (
            lang,
            got[lang],
            (n, caps[lang], lang in capped, want_alloc),
        )


# -- DDSketch bucketing: Spark integer binning == python replica + error bound --------


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(
        st.integers(min_value=1, max_value=10**9), min_size=1, max_size=60
    )
)
def test_ddsketch_binning_and_error_bound(spark, values):
    """For ANY positive-int corpus: (a) the Spark (e, m) bucketing equals an
    independent python replica (e = bit_length−1, m = (v·16 >> e) − 16),
    and (b) every estimated percentile is the lower edge of the bucket
    holding the true value — est ≤ v and v − est ≤ est/16 + 1."""
    from collections import Counter

    from pyspark.sql import functions as F

    from mongraph_spark.queries.relational import (
        dd_binned,
        dd_estimate,
        dd_targets,
    )

    df = spark.createDataFrame([(v,) for v in values], "cents long")
    direct = (
        dd_binned(df).groupBy("e", "m").agg(F.count(F.lit(1)).alias("c"))
    )
    got_cells = {(r.e, r.m): r.c for r in direct.collect()}
    want_cells = Counter(
        ((v.bit_length() - 1), ((v * 16) >> (v.bit_length() - 1)) - 16)
        for v in values
    )
    assert got_cells == dict(want_cells)
    targets = dd_targets(df.agg(F.count(F.lit(1)).alias("n")))
    est = {r.p: r.est for r in dd_estimate(direct, targets, "est").collect()}
    vs = sorted(values)
    n = len(vs)
    for p in (50, 90, 99):
        v = vs[(p * n + 99) // 100 - 1]
        e = est[p]
        assert e <= v and v - e <= e // 16 + 1, (p, e, v)


# -- vacuum_retention never breaks a retained reader ----------------------------
#
# For ANY sequence of upserts/deletes, any tag placement, and any subset of
# versions aged out of the window, time-based VACUUM must preserve — bit
# for bit — the current read, every tagged read, and every committed read
# inside the window; and a second vacuum must be a no-op (idempotence).


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=list(HealthCheck),
)
@given(
    steps=st.lists(
        st.tuples(st.sampled_from(["upsert", "delete"]), st.integers(0, 19)),
        min_size=2,
        max_size=5,
    ),
    tag_at=st.integers(0, 2),
    # versions age oldest-first: a PREFIX of the history falls out of the
    # window, never an interior version alone — commit times are monotone
    # in version number (commits serialize through the claim), and
    # read_as_of's resolution is specified under that invariant
    aged_upto=st.integers(0, 5),
)
def test_vacuum_retention_preserves_retained_readers(
    spark, tmp_path_factory, steps, tag_at, aged_upto
):
    import os

    from pyspark.sql import functions as F

    from mongraph_spark.sources import merge as M

    root = str(tmp_path_factory.mktemp("vacret") / "tbl")
    base = [(i, f"n{i}", 0) for i in range(20)]
    M.init_table(
        spark.createDataFrame(base, "id long, name string, rev long"),
        root, key="id", n_buckets=4,
    )
    for rev, (op, k) in enumerate(steps, start=1):
        if op == "upsert":
            M.upsert(
                spark, root,
                spark.createDataFrame(
                    [(k, f"u{k}r{rev}", rev)], "id long, name string, rev long"
                ),
                key="id", order_col="rev",
            )
        else:
            M.delete_where(spark, root, F.col("id") == k)
    n_cur = int(M.current_version(root).split("_")[1])
    tag_v = min(tag_at, n_cur)
    M.create_tag(root, "keep", version=tag_v)
    now, old = 1_000_000.0, 500.0
    aged = {n for n in range(min(aged_upto, n_cur + 1))}
    for n in sorted(aged):
        if os.path.isdir(os.path.join(root, f"v_{n:05d}")):
            M._set_commit_ts(root, f"v_{n:05d}", old + n)  # keep ts monotone
    windowed = [
        n for n in range(n_cur + 1)
        if n not in aged and os.path.isdir(os.path.join(root, f"v_{n:05d}"))
    ]
    before_cur = sorted(map(tuple, M.read_current(spark, root).drop("__bucket").collect()))
    before_tag = sorted(map(tuple, M.read_tag(spark, root, "keep").drop("__bucket").collect()))
    before_win = {
        n: sorted(map(tuple, M.read_version(spark, root, n).drop("__bucket").collect()))
        for n in windowed
    }
    # the unified-clock contract (VERDICT r8 order #2): every timestamp
    # read_as_of can reach inside the retention window must keep answering
    # IDENTICALLY across the vacuum — retention and travel share _commit_ts
    asof_ts = {n: M._commit_ts(root, f"v_{n:05d}") for n in windowed}
    before_asof = {
        n: sorted(
            map(tuple, M.read_as_of(spark, root, ts).drop("__bucket").collect())
        )
        for n, ts in asof_ts.items()
        if ts >= now - 1000.0
    }
    out1 = M.vacuum_retention(root, retention_s=1000.0, now=now)
    assert sorted(map(tuple, M.read_current(spark, root).drop("__bucket").collect())) == before_cur
    assert sorted(map(tuple, M.read_tag(spark, root, "keep").drop("__bucket").collect())) == before_tag
    for n, rows in before_win.items():
        assert sorted(map(tuple, M.read_version(spark, root, n).drop("__bucket").collect())) == rows
    for n, rows in before_asof.items():
        assert (
            sorted(
                map(
                    tuple,
                    M.read_as_of(spark, root, asof_ts[n]).drop("__bucket").collect(),
                )
            )
            == rows
        ), f"as-of read at v{n}'s commit time changed across the vacuum"
    # idempotence: nothing left to collect on the second pass
    out2 = M.vacuum_retention(root, retention_s=1000.0, now=now)
    assert out2["removed"] == [] and out2["orphans_removed"] == []
    assert out2["retained"] == sorted(set(out1["retained"]))


# -- populate: batched endpoint lookup == the old to_json left join -------------------

_PERSON = (
    "_id string, name string, age long, addr struct<city: string, zip: string>"
)


def _join_oracle(store) -> dict:
    """The populate plan the batched lookup replaced, written out: every
    document of every collection with a frame as ``to_json``, unioned and
    left-joined once per endpoint side on the split locator (``F.get``
    where the old plan's ``getItem`` raised under ANSI on a locator without
    ``:``)."""
    import json

    from pyspark.sql import functions as F

    docs = None
    for coll in store.frame_collections():
        d = store.documents_df(coll)
        part = d.select(
            F.lit(coll).alias("c"),
            F.col("_id").alias("i"),
            F.to_json(F.struct(*[F.col(c) for c in d.columns])).alias("doc"),
        )
        docs = part if docs is None else docs.unionByName(part)
    out = store.edges_df().select("rel_id", "_from", "_to")
    for side, name in (("_from", "f"), ("_to", "t")):
        loc = F.split(F.col(side), ":", 2)
        side_docs = docs.select(
            F.col("c").alias(f"{name}c"), F.col("i").alias(f"{name}i"), F.col("doc").alias(name)
        )
        cond = (loc.getItem(0) == F.col(f"{name}c")) & (F.get(loc, 1) == F.col(f"{name}i"))
        out = out.join(side_docs, cond, "left").drop(f"{name}c", f"{name}i")

    def load(j):
        return None if j is None else json.loads(j)

    return {r.rel_id: (load(r.f), load(r.t)) for r in out.collect()}


def _lookup(store) -> dict:
    from mongraph_spark.populate import attach_endpoint_documents, relationships

    rels = relationships(*attach_endpoint_documents(store, store.edges_df().collect()))
    return {r.id: (r.from_, r.to) for r in rels}


def _catalog(spark, docs, edges, deleted=()):
    """A catalog with ``people`` and ``pets`` (one schema) and a schemaless
    ``scratch``; ``docs`` are (collection, doc), ``edges`` (_from, _to)."""
    from pyspark.sql import types as T

    from mongraph_spark.catalog import MutableCatalog

    cat = MutableCatalog(spark)
    for coll in ("people", "pets"):
        cat.register_collection(coll, T.StructType.fromDDL(_PERSON))
    cat.register_collection("scratch")
    for coll, doc in docs:
        cat.upsert_document(coll, doc)
    for i, (f, t) in enumerate(edges):
        cat.insert_edge(i, i, "e", {}, _from=f, _to=t)
    for coll, _id in deleted:
        cat.delete_document(coll, _id)
    return cat


def test_endpoint_lookup_matches_join_on_edge_cases(spark):
    docs = [
        ("people", {"_id": "p:1", "name": "ann", "age": 3, "addr": {"city": "Oslo", "zip": None}}),
        ("people", {"_id": "p2", "name": None, "age": None, "addr": None}),
        ("people", {"_id": "gone", "name": "x"}),
        ("scratch", {"_id": "s1", "note": "no schema, so no frame"}),
    ]
    edges = [
        ("people:p:1", "people:p2"),  # an _id with ':'; null and nested fields
        ("people:p2", "people:gone"),  # its target is deleted
        ("people:p2", "ghost:g1"),  # a collection the store never saw
        (None, "people:p:1"),  # a null _from
        ("people:p2", "scratch:s1"),  # a collection without a frame
        ("people:p2", "nocolon"),  # a locator without a collection
    ]
    cat = _catalog(spark, docs, edges, deleted=[("people", "gone")])
    got = _lookup(cat)
    assert got == _join_oracle(cat)
    ann = {"_id": "p:1", "name": "ann", "age": 3, "addr": {"city": "Oslo"}}
    assert got[1] == (ann, {"_id": "p2"})
    assert got[4] == (None, ann)
    assert [got[r][1] for r in (2, 3, 5, 6)] == [None] * 4


_lookup_ids = st.sampled_from(["a", "b", "c:d", ""])
_person = st.fixed_dictionaries(
    {"_id": _lookup_ids},
    optional={
        "name": st.one_of(st.none(), st.text("xyz\"é", max_size=3)),
        "age": st.one_of(st.none(), st.integers(-(2**40), 2**40)),
        "addr": st.one_of(
            st.none(),
            st.fixed_dictionaries(
                {"city": st.one_of(st.none(), st.sampled_from(["Oslo", "Rome"]))},
                optional={"zip": st.one_of(st.none(), st.just("0150"))},
            ),
        ),
    },
)
_coll = st.sampled_from(["people", "pets"])
_locator = st.one_of(
    st.none(),
    st.just("nocolon"),
    st.builds(
        lambda c, i: f"{c}:{i}", st.sampled_from(["people", "pets", "scratch", "ghost"]), _lookup_ids
    ),
)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    docs=st.lists(st.tuples(_coll, _person), max_size=8),
    edges=st.lists(st.tuples(_locator, _locator), min_size=1, max_size=8),
    deleted=st.lists(st.tuples(_coll, _lookup_ids), max_size=2),
)
def test_endpoint_lookup_matches_join(spark, docs, edges, deleted):
    cat = _catalog(spark, docs, edges, deleted)
    assert _lookup(cat) == _join_oracle(cat)


# -- where.document / collection reads == the old semi-join plan ---------------------

_where_docs = st.sampled_from(
    [
        None,
        {},
        {"name": "x"},
        {"age": {"$gt": 0}},
        {"addr.city": "Oslo"},
        {"name": re.compile("x|é")},
        {"missing": 1},  # a field no document has
        {"missing": {"$ne": 1}},  # ... which a negation matches
        {"$or": [{"age": {"$lt": 0}}, {"name": {"$ne": "y"}}]},
    ]
)
_collection_lists = st.sampled_from(
    [None, [], ["people"], ["pets", "people"], ["scratch"], ["ghost"], ["scratch", "pets"]]
)


def _semi_join_read(store, where, colls, ref) -> list:
    """The read the driver-side drop replaced, written out: semi_populate on
    the edges view, then the unfiltered endpoint lookup."""
    from mongraph_spark.populate import attach_endpoint_documents, relationships, semi_populate

    edges = store.edges_df()
    if where or colls:
        edges = semi_populate(store, edges, where, colls, ref)
    rels = relationships(*attach_endpoint_documents(store, edges.collect()))
    return sorted((r.id, r.from_, r.to) for r in rels)


def _driver_read(store, where, colls, ref) -> list:
    from mongraph_spark.populate import attach_endpoint_documents, relationships

    rows = store.edges_df().collect()
    rels = relationships(*attach_endpoint_documents(store, rows, where, colls, ref))
    return sorted((r.id, r.from_, r.to) for r in rels)


@settings(
    max_examples=40,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    docs=st.lists(st.tuples(_coll, _person), max_size=8),
    edges=st.lists(st.tuples(_locator, _locator), min_size=1, max_size=8),
    where=_where_docs,
    colls=_collection_lists,
    ref=st.one_of(st.none(), _lookup_ids),
)
@example(
    # anchor self-loops, an _id in both collections, the anchor in a
    # collection without a frame and in one the store never saw
    docs=[
        ("people", {"_id": "a", "name": "x", "age": 1}),
        ("pets", {"_id": "a", "name": "y", "age": -1}),
        ("pets", {"_id": "b", "name": "x"}),
        ("people", {"_id": "b", "name": "x"}),
    ],
    edges=[
        ("people:a", "people:a"),
        ("pets:a", "pets:a"),
        ("people:a", "pets:b"),
        ("scratch:a", "pets:a"),
        ("ghost:a", "nocolon"),
        ("pets:b", "people:a"),
        ("pets:b", "people:b"),  # people is not a listed collection
        (None, "people:a"),
    ],
    where={"name": "x"},
    colls=["pets"],
    ref="a",
)
@example(
    # no listed collection has a frame: even the anchor's self-loop goes
    docs=[("people", {"_id": "a", "name": "x"})],
    edges=[("people:a", "people:a")],
    where=None,
    colls=["scratch", "ghost"],
    ref="a",
)
@example(
    # a locator without ':' is never the anchor, even for an empty _id
    docs=[("people", {"_id": "", "name": "x"})],
    edges=[("people:", "nocolon"), ("people:", "people:")],
    where=None,
    colls=["people"],
    ref="",
)
def test_filtered_read_matches_semi_join(spark, docs, edges, where, colls, ref):
    """A where.document and/or collection read drops rows on the driver
    after the endpoint lookup; it keeps exactly the rows (and documents)
    the old semi_populate plan kept: the anchor exempt by _id, schemaless
    and unknown collections, locators without ':' and missing documents
    failing, and no row at all when no listed collection has a frame."""
    cat = _catalog(spark, docs, edges)
    assert _driver_read(cat, where, colls, ref) == _semi_join_read(cat, where, colls, ref)


# -- sql_string: any text is one literal -----------------------------------------------

_NASTY = ["') OR (1=1", "a'b", 'q"q', "back\\slash\\", "new\nline", "\U0001F600", "", "x:y"]


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(texts=st.lists(st.one_of(st.sampled_from(_NASTY), st.text(max_size=6)), min_size=1, max_size=6))
@example(texts=_NASTY)
def test_sql_string_matches_exactly_the_equal_rows(spark, texts):
    """Text used as a relationship type and as an _id, spelled into the SQL
    plans by sparkutil.sql_string, matches exactly the rows holding equal
    text: a quote, a backslash or ') OR (1=1 never leaves the literal."""
    import json

    from pyspark.sql import Row
    from pyspark.sql import types as T

    from mongraph_spark.catalog import MutableCatalog
    from mongraph_spark.populate import attach_endpoint_documents
    from mongraph_spark.traversal import TraversalQuery

    cat = MutableCatalog(spark)
    cat.register_collection("c", T.StructType.fromDDL("_id string, n long"))
    for n, t in enumerate(texts):
        cat.upsert_document("c", {"_id": t, "n": n})
        cat.insert_edge(1, 2 + n, t)
    edges = cat.edges_df()
    for probe in set(texts) | {"') OR (1=1 --", texts[0] + "'"}:
        for types in ([probe], [probe, probe + "'"]):
            want = {e["rel_id"] for e in cat.iter_edges() if e["type"] in types}
            got = TraversalQuery(anchor=1, direction="outgoing", types=types).apply(edges)
            assert {r.rel_id for r in got.collect()} == want, types
        _, docs = attach_endpoint_documents(cat, [Row(_from="c:" + probe, _to=None)])
        doc = cat.get_document("c", probe)
        want_doc = None if doc is None else {"_id": probe, "n": doc["n"]}
        got_doc = docs.get("c:" + probe)
        assert (got_doc and json.loads(got_doc)) == want_doc, probe


# -- paths.shortest_path == the smallest of all shortest paths, in pure Python ------


def _all_shortest_paths_min(edges, src, dst, types, direction, max_hops):
    """Every shortest path from ``src`` to ``dst`` within ``max_hops``,
    enumerated level by level without any per-node pruning, and the
    lexicographically smallest of them (the tie-break ``shortest_path``
    pins), or None."""
    if src == dst:
        return [src]
    adj = {}
    for s, d, t in edges:
        if types is None or t in types:
            if direction in ("outgoing", "both"):
                adj.setdefault(s, set()).add(d)
            if direction in ("incoming", "both"):
                adj.setdefault(d, set()).add(s)
    paths, seen = [[src]], {src}
    for _ in range(max_hops):
        paths = [p + [n] for p in paths for n in adj.get(p[-1], ()) if n not in seen]
        hits = [p for p in paths if p[-1] == dst]
        if hits:
            return min(hits)
        if not paths:
            return None
        seen |= {p[-1] for p in paths}
    return None


_bfs_edges = st.lists(
    st.tuples(st.integers(1, 5), st.integers(1, 5), st.sampled_from(["a", "b"])),
    min_size=3,
    max_size=14,
)


@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    edges=_bfs_edges,
    src=st.integers(1, 6),
    dst=st.integers(1, 6),
    types=st.sampled_from([None, ["a"], ["a", "b"]]),
    max_hops=st.integers(1, 4),
)
@example(
    # parallel edges, a self-loop, a cycle and two 2-hop routes 1 -> 4;
    # node 6 never has an edge
    edges=[(1, 3, "a"), (1, 3, "a"), (3, 3, "b"), (3, 4, "a"), (4, 1, "b"), (1, 2, "b"), (2, 4, "b")],
    src=1,
    dst=4,
    types=None,
    max_hops=2,
)
def test_shortest_path_matches_python_bfs(spark, edges, src, dst, types, max_hops):
    """``paths.shortest_path`` on a MutableCatalog, in every direction,
    returns the smallest shortest path a pure-Python enumeration finds:
    through parallel edges, self-loops and cycles, for unreachable targets,
    ``src == dst`` and a ``max_hops`` cutoff."""
    from mongraph_spark.catalog import MutableCatalog
    from mongraph_spark.paths import shortest_path

    cat = MutableCatalog(spark)
    for s, d, t in edges:
        cat.insert_edge(s, d, t)
    for direction in ("outgoing", "incoming", "both"):
        want = _all_shortest_paths_min(edges, src, dst, types, direction, max_hops)
        got = shortest_path(cat, src, dst, types, direction, max_hops)
        assert got == want, direction


def test_bulk_shortest_path_matches_batch_bfs(spark):
    """On the tpch store, ``Mongraph.shortest_path`` from a supplier to its
    region is the path ``g8_shortest_paths`` (the batch BFS) returns for
    that origin."""
    from conftest import SF_SMOKE
    from pyspark.sql import functions as F

    from mongraph_spark.graphs import tpch
    from mongraph_spark.queries.graph import g8_shortest_paths

    eng = tpch.bulk_engine(spark, SF_SMOKE)
    batch = g8_shortest_paths(spark, SF_SMOKE)
    first = batch.select("origin").distinct().orderBy("origin").limit(3)
    origins = [r.origin for r in first.collect()]
    want = {}
    for r in batch.filter(F.col("origin").isin(origins)).orderBy("origin", "pos").collect():
        want.setdefault(r.origin, []).append(r.path_node)
    assert sorted(want) == origins
    for origin, path in want.items():
        got = eng.shortest_path(origin, path[-1], ["located_in", "in_region"])
        assert got == path, origin
