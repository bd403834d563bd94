"""Pure-Python golden oracle: replays the pipeline semantics over the fixture
tables and emits golden_triples / golden_nodes (FIXTURES.md §8).

Semantics replayed (reference citations):
- mention→CURIE lookup + rerank: builder/lookup_utils.py:4-77 + argmax
  similarity builder/chemotext2.py:51-64
- synonym merge to canonical representative (min-CURIE rule):
  builder/builder.py:249-264 (add_or_find_node) + builder/builder.py:136-167
  (merge) — here a union-find over the normalization edge list
- edge-crawl expansion: per-edge op keyed by (src_type,dst_type) metagraph
  rows (builder/userquery.py:128; ops observed in builder/output), over every
  enumerated program (compile_query, builder/userquery.py:115-137)
- edge dedup on (subj, obj, edge_source, pred): builder/builder.py:218-226
- full edge schema: export_edge fields (builder/builder.py:31-41)
- per-pair publication cap: builder/chemotext.py:53 (LIMIT 10000)
- supporters: omnicorp (builder/omnicorp.py:21-33), cdw (builder/cdw.py:9-103),
  chemotext2 max-sim (builder/chemotext2.py:9-70), chemotext MeSH
  co-occurrence (builder/chemotext.py:8-68)
- sorted equivalent_identifiers: builder/builder.py:81-82

The Spark pipeline (plans/pipeline.py) must reproduce these rows with
P/R ≥ 0.95 (BASELINE.json); sharing matching.py makes drift structural, not
tokenizer-level.
"""

from __future__ import annotations

from collections import defaultdict

import numpy as np
import pyarrow.parquet as pq

from .. import schemas
from ..operators.matching import build_trie, detect, featurize, link_mentions

SUPPORT_PRED = "biolink:correlated_with"
SUPPORT_SOURCE = "omnicorp.term_to_term"
CDW_TOTAL = 269332  # builder/cdw.py:16


class UnionFind:
    def __init__(self):
        self.parent: dict[str, str] = {}

    def find(self, x: str) -> str:
        p = self.parent.setdefault(x, x)
        if p != x:
            self.parent[x] = p = self.find(p)
        return p

    def union(self, a: str, b: str) -> None:
        ra, rb = self.find(a), self.find(b)
        if ra != rb:
            self.parent[ra] = rb


def build_canonical_map(norm_rows) -> dict[str, str]:
    """curie → deterministic representative (min CURIE in component)."""
    uf = UnionFind()
    for alias, canonical, _, _ in norm_rows:
        uf.union(alias, canonical)
    members: dict[str, list[str]] = defaultdict(list)
    for curie in list(uf.parent):
        members[uf.find(curie)].append(curie)
    rep_map: dict[str, str] = {}
    for group in members.values():
        rep = min(group)
        for c in group:
            rep_map[c] = rep
    return rep_map


def _edge_dict(subj, pred, obj, source, pubs, inputs, oid, olabel, properties):
    """Full reference edge schema (export_edge, builder/builder.py:31-41),
    ctime 0. properties always carries reversed=False: every edge added
    through add_nonsynonymous_edge sets it (builder/builder.py:217)."""
    properties = {"reversed": "False", **properties}
    return dict(
        subj=subj,
        pred=pred,
        obj=obj,
        edge_source=source,
        publications=pubs,
        input_identifiers=inputs,
        ctime=0,
        url=f"op://{source}/{subj}",
        standard_label=pred.split(":")[1],
        original_predicate_id=oid,
        original_predicate_label=olabel,
        properties=properties,
    )


def _tokenize_label(name: str) -> list[str]:
    """chemotext2 label tokenization (mirrors MaxSimSupporter)."""
    badwords = {"disease", "syndrome", "type", "and", "the", "with", "of"}
    table = str.maketrans("()-,;./", "       ")
    toks = [t for t in name.lower().translate(table).split() if len(t) > 2]
    return [t for t in toks if t not in badwords]


_EXTRACT_CACHE: dict[str, tuple] = {}


def _extract_and_link(fixture_dir: str):
    """Heavy fixture-independent prefix of the replay (mention detection +
    linking + canonicalization), cached per fixture dir — the per-query
    golden variants (programs / end-bound / supporters) all share it."""
    if fixture_dir in _EXTRACT_CACHE:
        return _EXTRACT_CACHE[fixture_dir]
    read = lambda n: pq.read_table(f"{fixture_dir}/{n}.parquet")  # noqa: E731
    docs = read("documents").to_pylist()
    lex = [tuple(r) for r in zip(*(read("lexicon").column(c).to_pylist() for c in ("surface", "curie", "node_type")))]
    norm = list(
        zip(
            *(
                read("normalization").column(c).to_pylist()
                for c in ("alias", "canonical", "node_type", "name")
            )
        )
    )
    emb_tbl = read("entity_embeddings")
    emb_map = {
        c: np.asarray(v, dtype=np.float64)
        for c, v in zip(emb_tbl.column("curie").to_pylist(), emb_tbl.column("embedding").to_pylist())
    }

    trie = build_trie(lex)
    rep_map = build_canonical_map(norm)
    meta: dict[str, tuple[str, str]] = {}  # rep → (node_type, name)
    for alias, canonical, ntype, name in norm:
        meta[rep_map[alias]] = (ntype, name)
    members: dict[str, list[str]] = defaultdict(list)
    for curie, rep in rep_map.items():
        members[rep].append(curie)

    # --- extract + link: doc → set of (rep, original linked curie, type) ---
    # type of the canonical component wins; a CURIE absent from the
    # normalization map keeps the lookup candidate's type (the reference's
    # node carries its lookup type when the synonymizer doesn't know it) —
    # aligned with plans/pipeline.py _doc_entities coalesce(rep_type,
    # node_type)
    doc_ents: dict[str, set[tuple[str, str, str]]] = defaultdict(set)
    for row in docs:
        for span in row["spans"] or []:
            if span["kind"] not in ("text", "caption"):
                continue
            ments = detect(span["text"], trie)
            if not ments:
                continue
            for _m, cand, _score in link_mentions(span["text"], ments, emb_map):
                rep = rep_map.get(cand.curie, cand.curie)
                ntype = meta[rep][0] if rep in meta else cand.node_type
                doc_ents[row["doc_id"]].add((rep, cand.curie, ntype))
    _EXTRACT_CACHE[fixture_dir] = (rep_map, meta, members, doc_ents)
    return _EXTRACT_CACHE[fixture_dir]


def compute_golden(
    fixture_dir: str,
    programs: list[list[str]] | None = None,
    start_values: list[str] | None = None,
    end_values: list[str] | None = None,
    supporters: tuple[str, ...] = ("omnicorp",),
    support_pair_mode: str = "all",
):
    """Returns (nodes, triples): lists of dicts matching schemas.NODES /
    schemas.TRIPLES for the given programs (default: the flagship DGX
    chain) + the requested supporters' edges (none when supporters is
    empty).

    programs: list of concrete node-type chains (the output of
    plans.query.enumerate_programs — U1 union semantics across programs).
    end_values replays the end-bound semantics of builder/userquery.py:
    104-126: an edge is emitted only when it lies on a path that completes
    to one of them."""
    rep_map, meta, members, doc_ents = _extract_and_link(fixture_dir)
    read = lambda n: pq.read_table(f"{fixture_dir}/{n}.parquet")  # noqa: E731
    pm = read("predicate_map").to_pylist()

    # --- canonicalized predicate map, indexed by (src,dst) type pair ---
    pm_rep: dict[tuple[str, str], dict[str, list[tuple]]] = defaultdict(
        lambda: defaultdict(list)
    )
    for r in pm:
        srep = rep_map.get(r["subj_curie"], r["subj_curie"])
        orep = rep_map.get(r["obj_curie"], r["obj_curie"])
        pm_rep[(r["src_type"], r["dst_type"])][srep].append(
            (orep, r["pred"], r["op_name"], r["orig_pred_id"], r["orig_pred_label"])
        )

    if programs is None:
        programs = [["disease", "gene", "genetic_condition"]]
    start_reps = (
        {rep_map.get(v, v) for v in start_values} if start_values else None
    )
    end_reps = (
        sorted({rep_map.get(v, v) for v in end_values}) if end_values else None
    )

    # --- program expansion with dedup on (subj, pred, obj, edge_source) ---
    # agg value: (pubs, inputs, orig_ids, orig_labels)
    agg: dict[tuple[str, str, str, str], tuple[set, set, set, set]] = defaultdict(
        lambda: (set(), set(), set(), set())
    )

    def emit(subj, pred, obj, src, oid, olabel, doc_id, inputs):
        pubs, ins, oids, olabels = agg[(subj, pred, obj, src)]
        pubs.add(f"DOC:{doc_id}")
        ins.update(inputs)
        oids.add(oid)
        olabels.add(olabel)

    def alive_sets(hop_maps) -> list[set[str] | None] | None:
        """Backward terminal-boundedness (mirrors expand._alive_sets)."""
        if end_reps is None:
            return None
        n = len(hop_maps)
        alive: list[set[str]] = [None] * (n + 1)
        alive[n] = set(end_reps)
        for i in range(n - 1, -1, -1):
            ok: set[str] = set()
            for s, lst in hop_maps[i].items():
                for o, *_ in lst:
                    if alive[i + 1] is None or o in alive[i + 1]:
                        ok.add(s)
                        break
            alive[i] = ok
        return alive

    for prog in programs:
        hop_maps = [pm_rep[(a, b)] for a, b in zip(prog, prog[1:])]
        alive = alive_sets(hop_maps)
        for doc_id, ents in doc_ents.items():
            # originating mention curies per start-typed rep in this doc
            origins: dict[str, set[str]] = defaultdict(set)
            for rep, orig, ntype in ents:
                if ntype == prog[0]:
                    origins[rep].add(orig)
            for start, inputs in origins.items():
                if start_reps is not None and start not in start_reps:
                    continue  # seed-bound query (reference --start)
                if alive is not None and alive[0] is not None and start not in alive[0]:
                    continue
                frontier = {start}
                for h, hop_map in enumerate(hop_maps):
                    nxt: set[str] = set()
                    for s in frontier:
                        for o, pred, op, oid, olabel in hop_map.get(s, ()):
                            if (
                                alive is not None
                                and alive[h + 1] is not None
                                and o not in alive[h + 1]
                            ):
                                continue
                            emit(s, pred, o, op, oid, olabel, doc_id, inputs)
                            nxt.add(o)
                    frontier = nxt

    triples = [
        _edge_dict(
            s,
            p,
            o,
            src,
            sorted(pubs)[: schemas.PUBLICATION_CAP],
            ",".join(sorted(ins)),
            min(oids),
            min(olabels),
            {},
        )
        for (s, p, o, src), (pubs, ins, oids, olabels) in agg.items()
    ]

    # --- supporter edges over the expansion graph nodes ---
    if supporters:
        graph_nodes = sorted({t["subj"] for t in triples} | {t["obj"] for t in triples})
        allowed_pairs: set[tuple[str, str]] | None = None
        if support_pair_mode == "paths":
            # contexts mode (generate_links_from_paths, builder.py:372-407):
            # forward walk per program accumulating transitive ancestor
            # sets; pairs canonicalized (min, max). Snapshot semantics per
            # hop (a node's ancestors as of the previous hop) — the
            # reference's within-hop update order is dict-iteration-
            # dependent; both engines here use the deterministic snapshot.
            allowed_pairs = set()
            for prog in programs:
                hop_maps = [pm_rep[(a, b)] for a, b in zip(prog, prog[1:])]
                alive = alive_sets(hop_maps)
                current: set[str] = set()
                for ents in doc_ents.values():
                    for rep, _orig, ntype in ents:
                        if ntype == prog[0]:
                            current.add(rep)
                if start_reps is not None:
                    current &= set(start_reps)
                if alive is not None and alive[0] is not None:
                    current &= alive[0]
                ancestors: dict[str, set[str]] = defaultdict(set)
                for h, hop_map in enumerate(hop_maps):
                    nxt: set[str] = set()
                    snapshot = {k: set(v) for k, v in ancestors.items()}
                    for s in sorted(current):
                        for o, *_ in hop_map.get(s, ()):
                            if (
                                alive is not None
                                and alive[h + 1] is not None
                                and o not in alive[h + 1]
                            ):
                                continue
                            ancestors[o].add(s)
                            ancestors[o] |= snapshot.get(s, set())
                            nxt.add(o)
                    current = nxt
                for k, ancs in ancestors.items():
                    for a in ancs:
                        if a != k:
                            allowed_pairs.add((min(a, k), max(a, k)))
        elif support_pair_mode != "all":
            raise ValueError(f"unknown support_pair_mode {support_pair_mode!r}")
        for name in supporters:
            triples.extend(
                _SUPPORTER_ORACLES[name](
                    fixture_dir, graph_nodes, rep_map, members, meta,
                    allowed_pairs=allowed_pairs,
                )
            )

    # --- nodes with sorted equivalent_identifiers + enhance-stage labels ---
    # (builder/builder.py:424-445: authority label > carried name > id),
    # plus KNode-level mesh_identifiers [{curie,label}] and the open
    # properties dict (mondo_identifiers fold-in, builder.py:427-430)
    labels = dict(_read_pairs(fixture_dir, "label_lookup", ("curie", "label")))
    mesh_terms = dict(_read_pairs(fixture_dir, "mesh_terms", ("mesh_curie", "term_name")))
    all_node_ids = sorted({t["subj"] for t in triples} | {t["obj"] for t in triples})

    def _node(r: str) -> dict:
        ntype = meta.get(r, ("unknown", ""))[0]
        mem = sorted(members.get(r, [r]))
        mesh = [
            {"curie": c, "label": mesh_terms.get(c, "")}
            for c in mem
            if c.startswith("MESH:")
        ]
        mondos = [c for c in mem if c.startswith("MONDO:")]
        props: dict[str, str] = {}
        if mondos and ntype in ("disease", "genetic_condition"):
            props["mondo_identifiers"] = ",".join(mondos)
        return dict(
            id=r,
            # "unknown", not "": empty partition values don't survive
            # hive-style partitionBy round-trips (see materialize.build_nodes)
            node_type=ntype,
            name=labels.get(r) or meta.get(r, ("unknown", ""))[1] or r,
            equivalent_identifiers=mem,
            mesh_identifiers=mesh,
            properties=props,
        )

    nodes = [_node(r) for r in all_node_ids]
    return nodes, triples


# --------------------------------------------------------------------------
# supporter oracles (each mirrors one operators/supporters.py plugin)
# --------------------------------------------------------------------------


def _read_pairs(fixture_dir: str, name: str, cols: tuple[str, str]):
    t = pq.read_table(f"{fixture_dir}/{name}.parquet")
    return list(zip(t.column(cols[0]).to_pylist(), t.column(cols[1]).to_pylist()))


def _oracle_omnicorp(fixture_dir, graph_nodes, rep_map, members, meta,
                     allowed_pairs=None):
    pmids: dict[str, set[str]] = defaultdict(set)
    for curie, pmid in _read_pairs(fixture_dir, "term_pmids", ("curie", "pmid")):
        pmids[rep_map.get(curie, curie)].add(pmid)
    out = []
    for i, a in enumerate(graph_nodes):
        for b in graph_nodes[i + 1 :]:
            if allowed_pairs is not None and (a, b) not in allowed_pairs:
                continue  # contexts mode (builder.py:372-407)
            shared = pmids[a] & pmids[b]
            if shared:
                pubs = sorted(shared)[: schemas.PUBLICATION_CAP]
                out.append(
                    # input_id='{a},{b}' + the verbatim 'co-occurence'
                    # misspelling, as in builder/omnicorp.py:27-29
                    _edge_dict(
                        a, SUPPORT_PRED, b, SUPPORT_SOURCE, pubs, f"{a},{b}",
                        "omnicorp:1", "literature_co-occurence",
                        {"num_publications": str(len(pubs))},
                    )
                )
    return out


def _oracle_chemotext(fixture_dir, graph_nodes, rep_map, members, meta,
                      allowed_pairs=None):
    """builder/chemotext.py:8-68: MeSH-synonym shared-article pairs."""
    mesh_terms = dict(_read_pairs(fixture_dir, "mesh_terms", ("mesh_curie", "term_name")))
    term_arts: dict[str, set[str]] = defaultdict(set)
    for term, pmid in _read_pairs(fixture_dir, "term_articles", ("term_name", "pmid")):
        term_arts[term].add(pmid)
    node_arts: dict[str, set[str]] = {}
    for n in graph_nodes:
        arts: set[str] = set()
        for syn in members.get(n, [n]):
            if syn.startswith("MESH:") and syn in mesh_terms:
                arts |= term_arts[mesh_terms[syn]]
        if arts:
            node_arts[n] = arts
    out = []
    keyed = sorted(node_arts)
    for i, a in enumerate(keyed):
        for b in keyed[i + 1 :]:
            if allowed_pairs is not None and (a, b) not in allowed_pairs:
                continue
            shared = node_arts[a] & node_arts[b]
            if shared:
                pubs = sorted(shared)[: schemas.PUBLICATION_CAP]
                out.append(
                    _edge_dict(
                        a, "biolink:literature_co-occurrence", b,
                        "chemotext.term_to_term", pubs, f"{a},{b}",
                        "chemotext:1", "literature_co-occurence",
                        {"num_publications": str(len(pubs))},
                    )
                )
    return out


def _oracle_cdw(fixture_dir, graph_nodes, rep_map, members, meta,
                allowed_pairs=None):
    """builder/cdw.py:9-103 with the '<11' sentinel fallback."""
    counts = dict(_read_pairs(fixture_dir, "cdw_counts", ("icd9", "count")))
    t = pq.read_table(f"{fixture_dir}/cdw_paircounts.parquet").to_pylist()
    paircounts = {}
    for r in t:
        paircounts[(r["icd9_a"], r["icd9_b"])] = (r["c1"], r["c2"], r["c"], r["p"])
        paircounts[(r["icd9_b"], r["icd9_a"])] = (r["c2"], r["c1"], r["c"], r["p"])
    icd9: dict[str, str] = {}
    for n in graph_nodes:
        codes = [s for s in members.get(n, [n]) if s.startswith("ICD9CM:")]
        if codes:
            icd9[n] = min(codes)
    out = []
    keyed = sorted(icd9)
    for i, a in enumerate(keyed):
        for b in keyed[i + 1 :]:
            if allowed_pairs is not None and (a, b) not in allowed_pairs:
                continue
            ca, cb = icd9[a], icd9[b]
            if ca not in counts or cb not in counts:  # F7 known-code guard
                continue
            if (ca, cb) in paircounts:
                c1, c2, c, p = paircounts[(ca, cb)]
                sentinel = str(c)
            else:
                c1, c2, p = counts[ca], counts[cb], None
                sentinel = "<11"
            e = float(c1) * float(c2) / float(CDW_TOTAL)
            out.append(
                _edge_dict(
                    a, "biolink:occurs_together_in_clinical_records", b,
                    "cdw.term_to_term", [], "",
                    "cdw:1", "clinical co-occurrence",
                    {"c": sentinel, "e": f"{e:.6f}", "p": f"{p:.6f}" if p is not None else None},
                )
            )
    return out


def _oracle_chemotext2(fixture_dir, graph_nodes, rep_map, members, meta,
                       allowed_pairs=None):
    """builder/chemotext2.py:9-70: max token-pair label similarity."""
    node_toks: dict[str, list[str]] = {}
    for n in graph_nodes:
        name = meta.get(n, ("", ""))[1]
        toks = _tokenize_label(name)
        if toks:
            node_toks[n] = toks
    vecs = {t: featurize(t) for toks in node_toks.values() for t in toks}
    out = []
    keyed = sorted(node_toks)
    for i, a in enumerate(keyed):
        for b in keyed[i + 1 :]:
            if allowed_pairs is not None and (a, b) not in allowed_pairs:
                continue
            best = max(
                (round(float(vecs[ta] @ vecs[tb]), 6), ta, tb)
                for ta in node_toks[a]
                for tb in node_toks[b]
            )
            out.append(
                _edge_dict(
                    a, "biolink:similar_to", b, "chemotext2.term_to_term", [], "",
                    "chemotext2:1", "similarity",
                    {"similarity": f"{best[0]:.6f}", "terms": f"{best[1]}|{best[2]}"},
                )
            )
    return out


_SUPPORTER_ORACLES = {
    "omnicorp": _oracle_omnicorp,
    "cdw": _oracle_cdw,
    "chemotext2": _oracle_chemotext2,
    "chemotext": _oracle_chemotext,
}
