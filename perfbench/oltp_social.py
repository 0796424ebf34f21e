"""oltp_social: the paper's own per-document surface, driven through
``Mongraph``/``Document`` on a ``MutableCatalog``.

A seeded social graph (people with name/age/city, places, ``knows`` edges
with a few Zipf hubs, ``visits`` edges) is loaded, then one closed-loop
client sends requests in a fixed pattern of kinds; the seed picks anchors,
targets and written values.  Every read is compared with a pure-Python
model of the graph: relationship ids, endpoint ``_id``s, counts, and the
exact route, which the model finds with the same min-path-per-node BFS
tie-break as ``paths.shortest_path``.
"""

from __future__ import annotations

import random
from collections import defaultdict

import datagen
from mongraph_spark.paths import LEVEL_DEEPNESS
from workload import Context, Op

N_PEOPLE = 1500
N_PLACES = 150

# One cycle is 5 browse : 3 write : 1 route (56/33/11 by count), about
# 17 s on four cores: outgoing, incoming and all relationships, one
# outgoing with where.document and one count (its form drawn from the
# seed); two save-and-link writes and one remove_relationships_to.  The
# pattern is fixed so every seed sends the same kinds in the same order.
PATTERN = ["out", "link", "where", "route", "in", "count", "unlink", "all", "link"]
# Directed distance of a route's target.  A route expands one frontier,
# with its own Spark jobs, per hop, and is the costliest request of the
# cycle; one fixed distance keeps every run's work the same.
ROUTE_HOPS = 2
MAX_HOPS = LEVEL_DEEPNESS  # the depth Mongraph.shortest_path searches to
CLASS_OF = {
    "out": "browse", "in": "browse", "all": "browse", "where": "browse",
    "count": "browse", "link": "write", "unlink": "write", "route": "route",
}
COUNT_FORMS = [{"count": "*"}, {"count": "a"}, {"countDistinct": "a"}]


def bfs_path(adj: dict, src: int, dst: int) -> list[int] | None:
    """Frontier BFS keeping, per newly reached node, the lexicographically
    smallest node-id path -- the tie-break ``paths.shortest_path`` pins."""
    if src == dst:
        return [src]
    frontier = {src: [src]}
    visited = {src}
    for _ in range(MAX_HOPS):
        cand: dict[int, list[int]] = {}
        for node, path in frontier.items():
            for nxt in adj.get(node, ()):
                p = path + [nxt]
                if nxt not in cand or p < cand[nxt]:
                    cand[nxt] = p
        cand = {n: p for n, p in cand.items() if n not in visited}
        if dst in cand:
            return cand[dst]
        if not cand:
            return None
        visited |= cand.keys()
        frontier = cand
    return None


def bfs_levels(adj: dict, src: int, depth: int) -> dict[int, int]:
    dist = {src: 0}
    frontier = [src]
    for d in range(1, depth + 1):
        nxt = []
        for node in frontier:
            for m in adj.get(node, ()):
                if m not in dist:
                    dist[m] = d
                    nxt.append(m)
        frontier = nxt
    return dist


class Model:
    """The expected graph: node id -> document ``_id``, rel id -> edge."""

    def __init__(self) -> None:
        self.doc_of: dict[int, str] = {}
        self.age_of: dict[int, int | None] = {}
        self.edges: dict[int, tuple[int, int, str]] = {}

    def add_node(self, doc) -> None:
        nid = doc.get_node_id()
        self.doc_of[nid] = doc._id
        self.age_of[nid] = doc.data.get("age")

    def add_edge(self, rel) -> None:
        self.edges[rel.id] = (rel.src, rel.dst, rel.type)

    def knows_adj(self) -> dict[int, list[int]]:
        adj = defaultdict(list)
        for s, d, t in self.edges.values():
            if t == "knows":
                adj[s].append(d)
        return adj

    def expect(self, pred) -> set:
        return {
            (rid, self.doc_of[s], self.doc_of[d])
            for rid, (s, d, t) in self.edges.items()
            if pred(s, d, t)
        }


def got(rels) -> set:
    return {(r.id, r.from_["_id"], r.to["_id"]) for r in rels}


class OltpSocial:
    name = "oltp_social"

    def __init__(self, ctx: Context) -> None:
        self.ctx = ctx
        self.spark = ctx.spark

    def setup(self, rep: int) -> None:
        """Fresh engine, seed load, and the first populated read (which
        builds the catalog's derived views)."""
        from mongraph_spark import Mongraph
        from mongraph_spark.schema import CollectionSchema, FieldSpec

        rng = random.Random(self.ctx.seed)
        people, places, knows, visits = datagen.social_graph(rng, N_PEOPLE, N_PLACES)
        eng = Mongraph(self.spark)
        eng.register_collection(CollectionSchema(name="people", fields={
            "name": FieldSpec(type=str, graph=True),
            "age": FieldSpec(type=int),
            "city": FieldSpec(type=str),
        }))
        eng.register_collection(CollectionSchema(name="places", fields={
            "name": FieldSpec(type=str, graph=True),
            "city": FieldSpec(type=str),
        }))
        model = Model()
        pdocs = [eng.create_document("people", p).save() for p in people]
        ldocs = [eng.create_document("places", p).save() for p in places]
        for d in pdocs + ldocs:
            model.add_node(d)
        for s, d in knows:
            model.add_edge(pdocs[s].create_relationship_to(
                pdocs[d], "knows", {"since": f"y{(s * 7 + d) % 30}"}))
        for s, d in visits:
            model.add_edge(pdocs[s].create_relationship_to(ldocs[d], "visits"))
        self.eng, self.people, self.model = eng, pdocs, model
        self.by_node = {d.get_node_id(): d for d in pdocs}
        self.rng = random.Random(self.ctx.seed * 7919 + 1)
        ranking = list(range(N_PEOPLE))
        self.rng.shuffle(ranking)
        self.ranking = ranking
        self.weights = datagen.zipf_weights(N_PEOPLE)
        self.n_new = 0
        if not self._browse(pdocs[0], "out")():
            raise RuntimeError("first read after the seed load does not match the model")

    # -- request construction ---------------------------------------------------

    def _anchor(self):
        return self.people[self.rng.choices(self.ranking, self.weights)[0]]

    def _browse(self, a, kind):
        m = self.model
        nid = a.get_node_id()
        if kind == "out":
            return lambda: got(a.outgoing_relationships("knows")) == m.expect(
                lambda s, d, t: s == nid and t == "knows")
        if kind == "in":
            return lambda: got(a.incoming_relationships("knows")) == m.expect(
                lambda s, d, t: d == nid and t == "knows")
        if kind == "all":
            return lambda: got(a.all_relationships("*")) == m.expect(
                lambda s, d, t: nid in (s, d))
        if kind == "where":
            age = self.rng.randint(20, 70)
            where = {"where": {"document": {"age": {"$gt": age}}}}
            return lambda: got(a.outgoing_relationships("knows", where)) == m.expect(
                lambda s, d, t: s == nid and t == "knows" and (m.age_of[d] or 0) > age)
        form = self.rng.choice(COUNT_FORMS)

        def count():
            touching = [(s, d) for s, d, _ in m.edges.values() if nid in (s, d)]
            if "countDistinct" in form:
                want = len({d if s == nid else s for s, d in touching})
            else:
                want = len(touching)
            return a.query_relationships("*", dict(form)) == want

        return count

    def _link(self):
        self.n_new += 1
        data = {"name": f"new{self.n_new}", "age": self.rng.randint(16, 80),
                "city": self.rng.choice(datagen.CITIES)}
        targets = {self._anchor()._id: None for _ in range(self.rng.randint(1, 2))}
        by_id = {d._id: d for d in self.people}
        m = self.model

        def link():
            doc = self.eng.create_document("people", data).save()
            m.add_node(doc)
            for t in targets:  # dict keys: distinct targets in draw order
                m.add_edge(doc.create_relationship_to(by_id[t], "knows", {"since": "now"}))
            nid = doc.get_node_id()
            return got(doc.outgoing_relationships("knows")) == m.expect(
                lambda s, d, t: s == nid and t == "knows")

        return link

    def _unlink(self):
        m = self.model
        adj = m.knows_adj()
        a = self._anchor()
        while not adj.get(a.get_node_id()):
            a = self._anchor()
        nid = a.get_node_id()
        dst = self.rng.choice(sorted(adj[nid]))
        b = self.by_node[dst]

        def unlink():
            doomed = [r for r, (s, d, t) in m.edges.items()
                      if s == nid and d == dst and t == "knows"]
            removed = a.remove_relationships_to(b, "knows")
            for r in doomed:
                del m.edges[r]
            return removed == len(doomed) and a.outgoing_relationships_to(b, "knows") == []

        return unlink

    def _route(self):
        m = self.model
        adj = m.knows_adj()
        a = self._anchor()
        dist = bfs_levels(adj, a.get_node_id(), ROUTE_HOPS)
        for d in range(ROUTE_HOPS, 0, -1):
            at_d = sorted(n for n, k in dist.items() if k == d)
            if at_d:
                b = self.by_node[self.rng.choice(at_d)]
                break
        else:
            return self._browse(a, "out")

        def route():
            path = bfs_path(m.knows_adj(), a.get_node_id(), b.get_node_id())
            docs = a.shortest_path_to(b, "knows")
            return [d["_id"] for d in docs] == [m.doc_of[n] for n in path]

        return route

    def _make(self, kind):
        if kind == "link":
            return self._link()
        if kind == "unlink":
            return self._unlink()
        if kind == "route":
            return self._route()
        return self._browse(self._anchor(), kind)

    # -- the run ---------------------------------------------------------------------

    def warm(self) -> None:
        for kind in ("where", "count"):
            if not self._make(kind)():
                raise RuntimeError(f"warm-up {kind} request does not match the model")

    cycle = PATTERN

    def ops(self):
        i = 0
        while True:
            kind = PATTERN[i % len(PATTERN)]
            yield Op(kind, CLASS_OF[kind], self._make(kind))
            i += 1

    def verify(self) -> list[str]:
        errors = []
        if self.eng.count_edges() != len(self.model.edges):
            errors.append("edge count differs from the model")
        if self.eng.count_nodes() != len(self.model.doc_of):
            errors.append("node count differs from the model")
        return errors

    def detail(self, records) -> dict:
        return {}

    def close(self) -> None:
        pass
