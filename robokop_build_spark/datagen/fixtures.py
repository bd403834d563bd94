"""Deterministic synthetic fixture generator (FIXTURES.md §1-7).

Writes parquet tables to a directory:
  documents, lexicon, normalization, predicate_map, entity_embeddings,
  term_pmids, cdw_counts, cdw_paircounts

Scale: SF=1.0 ≡ 1,000,000 documents (FIXTURES.md); entities/lexicon are
fixed-size dimensions. seed=42 and per-doc sub-seeding → order-deterministic
regardless of generation parallelism.

Deliberate stress features (per BASELINE.json north_rule):
- 3 hub entities receive ~5%% of all mention occurrences and 150 aliases each
  (exercises hub-key skew on the alias join);
- normalization map contains synonym chains (a→b→canonical) and rings
  (exercises the connected-components fixpoint);
- docs with zero spans, duplicate span texts, empty text for media spans
  (exercises the span-sequence-equality invariant).
"""

from __future__ import annotations

import functools
import hashlib
import math
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

from ..operators.matching import EMBED_DIM

SEED = 42
N_ENTITIES = 600
N_HUBS = 3
ALIAS_PREFIXES = ["DOID", "ICD9CM", "UMLS", "ORPHANET", "EFO", "SNOMEDCT", "MESH"]

NODE_TYPES = [
    "disease",
    "gene",
    "genetic_condition",
    "chemical_substance",
    "phenotypic_feature",
    "anatomical_entity",
    "cell",
    "biological_process",
]
TYPE_PREFIX = {
    "disease": "MONDO",
    "gene": "NCBIGENE",
    "genetic_condition": "OMIM",
    "chemical_substance": "MESH",
    "phenotypic_feature": "HP",
    "anatomical_entity": "UBERON",
    "cell": "CL",
    "biological_process": "GO",
}

# (src_type, dst_type, op_name, pred) — op names modeled on the expansion ops
# observed in the reference run log (builder/output; SURVEY.md §2.1 S6).
# Each template also carries an original (pre-standardization) predicate
# id/label pair, derived below — the reference KEdge keeps both
# (builder/builder.py:31-41: original_predicate_id/label vs standard_*).
EDGE_TEMPLATES = [
    ("disease", "gene", "pharos.disease_get_gene", "biolink:gene_associated_with_condition"),
    ("gene", "genetic_condition", "biolink.gene_get_genetic_condition", "biolink:causes_condition"),
    ("disease", "phenotypic_feature", "hetio.disease_to_phenotype", "biolink:has_phenotype"),
    ("chemical_substance", "gene", "ctd.drug_to_gene", "biolink:interacts_with"),
    ("gene", "biological_process", "biolink.gene_get_process", "biolink:participates_in"),
    (
        "phenotypic_feature",
        "anatomical_entity",
        "uberongraph.get_anatomy_by_phenotype_graph",
        "biolink:affects",
    ),
    # gives D(1-2)G a genuine 2-hop program (disease→phenotype→gene) so
    # variable-length/multi-program execution has distinct edges to prove
    ("phenotypic_feature", "gene", "hetio.phenotype_to_gene", "biolink:associated_with"),
    ("anatomical_entity", "cell", "uberongraph.get_anatomy_by_cell_graph", "biolink:has_part"),
]


def _orig_pred(template_idx: int, pred: str) -> tuple[str, str]:
    """Deterministic original predicate for a template: RO-style id + the
    standard pred's local part de-munged. Reference KEdge carries both
    original and standard predicates (builder/builder.py:31-41)."""
    return f"RO:{3000000 + template_idx}", pred.split(":")[1].replace("_", " ")


_SYLLABLES = [
    "ba", "ce", "di", "fo", "gu", "ha", "ki", "lo", "mu", "ne",
    "pa", "qui", "ro", "su", "ta", "vi", "wo", "xe", "ya", "zo",
    "bra", "cle", "dri", "flo", "gru", "pla", "ste", "tro",
]


def _word(rng: random.Random, min_syl: int = 2, max_syl: int = 4) -> str:
    return "".join(rng.choice(_SYLLABLES) for _ in range(rng.randint(min_syl, max_syl)))


def _md5hex(s: str) -> str:
    return hashlib.md5(s.encode()).hexdigest()


class Vocab:
    """Fixed dimension tables: entities, lexicon, normalization, predicate
    map, embeddings, term_pmids, cdw. Independent of SF."""

    def __init__(self, seed: int = SEED):
        rng = random.Random(f"vocab:{seed}")
        # disjoint word pools: surfaces can never accidentally appear in filler
        words: list[str] = []
        seen: set[str] = set()
        while len(words) < 4000:
            w = _word(rng)
            if w not in seen:
                seen.add(w)
                words.append(w)
        self.surface_words = words[:3000]
        self.filler_words = [w + "n" for w in words[3000:]]  # suffix keeps pools disjoint

        self.entities: list[dict] = []
        sw = iter(self.surface_words)
        for i in range(N_ENTITIES):
            ntype = NODE_TYPES[i % len(NODE_TYPES)]
            curie = f"{TYPE_PREFIX[ntype]}:{7000000 + i}"
            is_hub = i < N_HUBS  # first 3 are diseases/gene/cond — fine as hubs
            n_alias = 150 if is_hub else rng.randint(1, 5)
            aliases = [
                f"{rng.choice(ALIAS_PREFIXES)}:{8000000 + i * 1000 + j}" for j in range(n_alias)
            ]
            base = [next(sw) for _ in range(rng.randint(1, 2))]
            name = " ".join(w.capitalize() for w in base)
            n_surf = rng.randint(1, 3)
            surfaces = [" ".join(base)]
            for _ in range(n_surf - 1):
                extra = next(sw)
                surfaces.append(" ".join(base + [extra]) if rng.random() < 0.5 else extra)
            self.entities.append(
                dict(
                    idx=i,
                    curie=curie,
                    node_type=ntype,
                    name=name,
                    aliases=aliases,
                    surfaces=surfaces,
                    is_hub=is_hub,
                )
            )

        # lexicon rows; ~10% ambiguous surfaces (one surface → 2 curies)
        self.lexicon: list[tuple[str, str, str]] = []
        for e in self.entities:
            # lexicon sometimes points at an alias curie rather than canonical
            for s in e["surfaces"]:
                curie = e["aliases"][0] if rng.random() < 0.2 else e["curie"]
                self.lexicon.append((s, curie, e["node_type"]))
        n_amb = N_ENTITIES // 4  # ≥10% ambiguous surfaces (FIXTURES.md §2)
        for k in range(n_amb):
            a = self.entities[rng.randrange(N_ENTITIES)]
            b = self.entities[rng.randrange(N_ENTITIES)]
            if a["idx"] == b["idx"]:
                continue
            self.lexicon.append((a["surfaces"][0], b["curie"], b["node_type"]))

        # normalization edges: identity + aliases, with chains and rings
        self.normalization: list[tuple[str, str, str, str]] = []
        for e in self.entities:
            rows = [(e["curie"], e["curie"])]
            style = e["idx"] % 10
            if style == 7 and len(e["aliases"]) >= 2:  # chain a1→a2→canonical
                rows.append((e["aliases"][0], e["aliases"][1]))
                rows.append((e["aliases"][1], e["curie"]))
                for a in e["aliases"][2:]:
                    rows.append((a, e["curie"]))
            elif style == 8 and len(e["aliases"]) >= 3:  # ring among aliases
                a1, a2, a3 = e["aliases"][:3]
                rows += [(a1, a2), (a2, a3), (a3, a1), (a1, e["curie"])]
                for a in e["aliases"][3:]:
                    rows.append((a, e["curie"]))
            else:
                for a in e["aliases"]:
                    rows.append((a, e["curie"]))
            for alias, canonical in rows:
                self.normalization.append((alias, canonical, e["node_type"], e["name"]))

        # concrete typed edges (closed-world KG), canonical-curie space
        by_type: dict[str, list[dict]] = {}
        for e in self.entities:
            by_type.setdefault(e["node_type"], []).append(e)
        self.predicate_map: list[tuple] = []
        seen_edges: set[tuple] = set()
        for ti, (src_t, dst_t, op, pred) in enumerate(EDGE_TEMPLATES):
            oid, olabel = _orig_pred(ti, pred)
            # dead-end carve-out: ~1/5 of genes get NO gene→genetic_condition
            # edges, so full-pattern (require_complete) pruning is observable
            # — without it every reachable gene completes and pruning is a
            # no-op on the fixture
            src_pool = by_type[src_t]
            if (src_t, dst_t) == ("gene", "genetic_condition"):
                src_pool = [e for e in src_pool if e["idx"] % 40 != 1]
            for _ in range(400):
                s = rng.choice(src_pool)
                o = rng.choice(by_type[dst_t])
                key = (s["curie"], pred, o["curie"])
                if key in seen_edges:
                    continue
                seen_edges.add(key)
                self.predicate_map.append(
                    (src_t, dst_t, op, pred, s["curie"], o["curie"], oid, olabel)
                )

        # unregistered entities: lexicon CURIEs with NO normalization-map row
        # (exercises the unmapped-rep fallback: node_type comes from the
        # lookup candidate, and the rep is the CURIE itself). Each gets a
        # concrete disease→gene edge so the fallback visibly changes the
        # expansion output — a silent-divergence guard, not dead data.
        self.unreg_surfaces: list[str] = []
        for k in range(2):
            curie = f"UNREG:{9100000 + k}"
            surface = next(sw)
            self.lexicon.append((surface, curie, "disease"))
            g = by_type["gene"][k]
            oid, olabel = _orig_pred(0, "biolink:gene_associated_with_condition")
            self.predicate_map.append(
                (
                    "disease",
                    "gene",
                    "pharos.disease_get_gene",
                    "biolink:gene_associated_with_condition",
                    curie,
                    g["curie"],
                    oid,
                    olabel,
                )
            )
            self.unreg_surfaces.append(surface)

        # embeddings for canonical + alias curies (seeded gaussian, L2-norm)
        self.embeddings: list[tuple[str, list[float]]] = []
        for e in self.entities:
            for curie in [e["curie"]] + e["aliases"][:5]:
                r = random.Random(f"emb:{curie}")
                v = [r.gauss(0, 1) for _ in range(EMBED_DIM)]
                n = math.sqrt(sum(x * x for x in v)) or 1.0
                self.embeddings.append((curie, [x / n for x in v]))

        # term→PMID (Zipf-ish fan-out)
        self.term_pmids: list[tuple[str, str]] = []
        for e in self.entities:
            n_pmid = max(1, int(200 / (e["idx"] + 1) ** 0.7)) + rng.randint(0, 5)
            for _ in range(n_pmid):
                self.term_pmids.append((e["curie"], f"PMID:{rng.randint(10000, 99999)}"))

        # CDW side tables over ICD9-aliased diseases
        self.cdw_counts: list[tuple[str, int]] = []
        self.cdw_paircounts: list[tuple] = []
        icd9s = [
            a for e in self.entities for a in e["aliases"] if a.startswith("ICD9CM:")
        ][:100]
        for code in icd9s:
            self.cdw_counts.append((code, rng.randint(50, 20000)))
        counts = dict(self.cdw_counts)
        for i in range(0, len(icd9s) - 1, 2):  # half the adjacent pairs present
            a, b = icd9s[i], icd9s[i + 1]
            c1, c2 = counts[a], counts[b]
            c = rng.randint(0, min(c1, c2))
            self.cdw_paircounts.append((a, b, c1, c2, c, rng.random()))

        # chemotext side tables: MESH alias → chemotext term label (80%
        # coverage — the reference warns and skips unknown mesh ids,
        # builder/chemotext.py:30-36) + term → article fan-out
        self.mesh_terms: list[tuple[str, str]] = []
        self.term_articles: list[tuple[str, str]] = []
        for e in self.entities:
            for a in e["aliases"]:
                if a.startswith("MESH:") and rng.random() < 0.8:
                    term = f"ct_{a.split(':')[1]}"
                    self.mesh_terms.append((a, term))
                    n_art = max(1, int(150 / (e["idx"] + 1) ** 0.6)) + rng.randint(0, 4)
                    for _ in range(n_art):
                        self.term_articles.append(
                            (term, f"PMID:{rng.randint(10000, 99999)}")
                        )

        # authority label lookup (enhance stage, builder/builder.py:424-445:
        # mondo/hgnc label services) — ~60% coverage so both the authority
        # and the fallback paths are exercised
        self.label_lookup: list[tuple[str, str]] = []
        for e in self.entities:
            if e["idx"] % 5 < 3:
                self.label_lookup.append((e["curie"], f"{e['name']} (authority)"))

        # hub surface pool for skewed mention sampling
        self.hub_surfaces = [e["surfaces"][0] for e in self.entities if e["is_hub"]]
        self.all_surfaces = (
            [e["surfaces"][0] for e in self.entities]
            + [s for e in self.entities for s in e["surfaces"][1:]]
            + self.unreg_surfaces
        )


def _gen_doc(vocab: Vocab, doc_idx: int, seed: int = SEED) -> tuple[str, list[dict]]:
    rng = random.Random(f"doc:{seed}:{doc_idx}")
    doc_id = f"doc_{doc_idx:08d}"
    if rng.random() < 0.02:  # empty-span edge case
        return doc_id, []
    n_spans = rng.randint(1, 12)
    spans: list[dict] = []
    offset = 0
    for _ in range(n_spans):
        roll = rng.random()
        if roll < 0.80:
            kind = "text" if roll < 0.70 else "caption"
            n_fill = rng.randint(4, 14)
            toks = [rng.choice(vocab.filler_words) for _ in range(n_fill)]
            n_ment = rng.choices([0, 1, 2, 3], weights=[25, 40, 25, 10])[0]
            for _ in range(n_ment):
                surf = (
                    rng.choice(vocab.hub_surfaces)
                    if rng.random() < 0.05
                    else rng.choice(vocab.all_surfaces)
                )
                if rng.random() < 0.15:  # case-variant edge case
                    surf = surf.upper() if rng.random() < 0.5 else surf.title()
                toks.insert(rng.randint(0, len(toks)), surf)
            text = " ".join(toks)
            spans.append(dict(kind=kind, text=text, media_ref="", offset=offset))
            offset += len(text) + rng.randint(1, 3)
        else:
            kind = "image" if roll < 0.90 else "table"
            ref = f"media://{_md5hex(f'{doc_id}:{len(spans)}')}"
            spans.append(dict(kind=kind, text="", media_ref=ref, offset=offset))
            offset += rng.randint(100, 5000)
    if len(spans) >= 2 and rng.random() < 0.01:  # duplicate-span-text edge case
        dup = dict(spans[0])
        dup["offset"] = offset
        spans.append(dup)
    return doc_id, spans


def generate_documents_rows(vocab: Vocab, n_docs: int, seed: int = SEED):
    for i in range(n_docs):
        yield _gen_doc(vocab, i, seed)


SPAN_PA = pa.struct(
    [
        ("kind", pa.string()),
        ("text", pa.string()),
        ("media_ref", pa.string()),
        ("offset", pa.int32()),
    ]
)


def generate_fixtures(out_dir: str, sf: float, seed: int = SEED) -> None:
    """Write all fixture parquet tables for the given scale factor."""
    os.makedirs(out_dir, exist_ok=True)
    vocab = Vocab(seed)
    n_docs = max(10, int(sf * 1_000_000))

    # streamed chunked writing: bounded memory at any SF, and small row
    # groups keep the single-file fixture SPLITTABLE (one giant row group =
    # one Spark scan task no matter how many cores)
    docs_schema = pa.schema([("doc_id", pa.string()), ("spans", pa.list_(SPAN_PA))])
    chunk = 50_000
    with pq.ParquetWriter(
        os.path.join(out_dir, "documents.parquet"), docs_schema
    ) as writer:
        doc_ids: list[str] = []
        span_lists: list[list] = []
        for doc_id, spans in generate_documents_rows(vocab, n_docs, seed):
            doc_ids.append(doc_id)
            span_lists.append(spans)
            if len(doc_ids) >= chunk:
                writer.write_table(
                    pa.table(
                        {
                            "doc_id": pa.array(doc_ids, pa.string()),
                            "spans": pa.array(span_lists, pa.list_(SPAN_PA)),
                        }
                    ),
                    row_group_size=10_000,
                )
                doc_ids, span_lists = [], []
        if doc_ids:
            writer.write_table(
                pa.table(
                    {
                        "doc_id": pa.array(doc_ids, pa.string()),
                        "spans": pa.array(span_lists, pa.list_(SPAN_PA)),
                    }
                ),
                row_group_size=10_000,
            )

    def write(name: str, cols: dict) -> None:
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))

    lx = list(zip(*vocab.lexicon))
    write("lexicon", {"surface": lx[0], "curie": lx[1], "node_type": lx[2]})
    nm = list(zip(*vocab.normalization))
    write(
        "normalization",
        {"alias": nm[0], "canonical": nm[1], "node_type": nm[2], "name": nm[3]},
    )
    pm = list(zip(*vocab.predicate_map))
    write(
        "predicate_map",
        {
            "src_type": pm[0],
            "dst_type": pm[1],
            "op_name": pm[2],
            "pred": pm[3],
            "subj_curie": pm[4],
            "obj_curie": pm[5],
            "orig_pred_id": pm[6],
            "orig_pred_label": pm[7],
        },
    )
    em = list(zip(*vocab.embeddings))
    write(
        "entity_embeddings",
        {
            "curie": pa.array(em[0], pa.string()),
            "embedding": pa.array(em[1], pa.list_(pa.float32())),
        },
    )
    tp = list(zip(*vocab.term_pmids))
    write("term_pmids", {"curie": tp[0], "pmid": tp[1]})
    mt = list(zip(*vocab.mesh_terms))
    write("mesh_terms", {"mesh_curie": mt[0], "term_name": mt[1]})
    ll = list(zip(*vocab.label_lookup))
    write("label_lookup", {"curie": ll[0], "label": ll[1]})
    ta = list(zip(*vocab.term_articles))
    write("term_articles", {"term_name": ta[0], "pmid": ta[1]})
    cc = list(zip(*vocab.cdw_counts))
    write("cdw_counts", {"icd9": cc[0], "count": pa.array(cc[1], pa.int64())})
    cp = list(zip(*vocab.cdw_paircounts))
    write(
        "cdw_paircounts",
        {
            "icd9_a": cp[0],
            "icd9_b": cp[1],
            "c1": pa.array(cp[2], pa.int64()),
            "c2": pa.array(cp[3], pa.int64()),
            "c": pa.array(cp[4], pa.int64()),
            "p": pa.array(cp[5], pa.float64()),
        },
    )


@functools.cache
def source_key() -> str:
    """md5 of the package's *.py sources, the one key under which a cached
    check artifact (fixtures, driver tables, goldens, kg_* workdirs) is
    reused: no check reads what other code wrote."""
    pkg = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    h = hashlib.md5()
    for d, dirs, files in os.walk(pkg):
        dirs[:] = sorted(x for x in dirs if x != "__pycache__")
        for f in sorted(x for x in files if x.endswith(".py")):
            path = os.path.join(d, f)
            h.update(os.path.relpath(path, pkg).encode())
            with open(path, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:10]


def fixture_dir(sf: float) -> str:
    """The fixture corpus at `sf` that this source generates, under /tmp."""
    return ensure_fixtures(f"/tmp/robokop_fixtures/sf{sf}_{source_key()}", sf)


def ensure_fixtures(out_dir: str, sf: float, seed: int = SEED) -> str:
    """Generate once, reuse across runs; regenerate when the source changes
    (a stale cache would silently desync from the oracle)."""
    marker = os.path.join(out_dir, "_FIXTURES_DONE")
    stamp = f"src={source_key()} sf={sf} seed={seed}"
    if os.path.exists(marker):
        with open(marker) as f:
            if f.read().strip() == stamp:
                return out_dir
        import shutil

        shutil.rmtree(out_dir, ignore_errors=True)
    generate_fixtures(out_dir, sf, seed)
    with open(marker, "w") as f:
        f.write(stamp)
    return out_dir
