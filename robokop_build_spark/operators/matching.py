"""Dictionary-trie mention detection + deterministic context featurizer.

These are PURE functions shared by the Spark pipeline (inside Arrow-batched
pandas UDFs, robokop_build_spark/operators/extract.py) and by the pure-Python
golden oracle (robokop_build_spark/datagen/oracle.py). Sharing the exact
matcher makes the P/R gate vs golden fixtures a test of the *distributed
plumbing* (explode / join / CC / dedup), not of tokenizer drift.

Reference analog: name→CURIE seed lookups (builder/lookup_utils.py:4-77,
case-insensitive exact match) generalized to in-text dictionary matching;
candidate rerank is the rebuild's M3 (SURVEY.md §7).
"""

from __future__ import annotations

import hashlib
from functools import lru_cache
from typing import NamedTuple

import numpy as np

MAX_NGRAM = 3
EMBED_DIM = 64


class Candidate(NamedTuple):
    curie: str
    node_type: str


class Trie:
    """Surface→candidates map with a first-token index: the detect scan
    does one set probe per token and only builds n-gram join strings when
    the token can start a surface (most corpus tokens cannot).
    start_maxlen caps the greedy probe depth per first token (a 1-word
    surface never pays the 3- and 2-gram join attempts)."""

    __slots__ = ("surfaces", "starts", "start_maxlen", "multi_surfaces")

    def __init__(self, surfaces: dict[str, list[Candidate]]):
        self.surfaces = surfaces
        self.starts = {s.split(" ", 1)[0] for s in surfaces}
        self.start_maxlen: dict[str, int] = {}
        # multi-word surfaces as token tuples, for the batch scan's
        # code-tuple probes (no gram strings ever built)
        self.multi_surfaces: list[tuple[tuple[str, ...], list[Candidate]]] = []
        for s, cands in surfaces.items():
            toks = s.split(" ")
            first = toks[0]
            if len(toks) > self.start_maxlen.get(first, 0):
                self.start_maxlen[first] = len(toks)
            if len(toks) > 1:
                self.multi_surfaces.append((tuple(toks), cands))

    def get(self, gram: str):
        return self.surfaces.get(gram)


def build_trie(lexicon_rows) -> Trie:
    """lexicon rows (surface, curie, node_type) → lowercase surface trie.

    Values sorted by curie for deterministic downstream tie-breaks.
    """
    surfaces: dict[str, list[Candidate]] = {}
    for surface, curie, node_type in lexicon_rows:
        surfaces.setdefault(surface.lower(), []).append(Candidate(curie, node_type))
    for key in surfaces:
        surfaces[key] = sorted(set(surfaces[key]))
    return Trie(surfaces)


class Mention(NamedTuple):
    start: int  # character offset of first token within the span text
    surface: str  # matched surface as it appears in text
    candidates: tuple[Candidate, ...]


def detect(text: str, trie: Trie) -> list[Mention]:
    """Greedy longest-match (3→2→1 tokens), non-overlapping, case-insensitive.

    Tokenization: split on single spaces (span texts are space-joined).
    Deterministic left-to-right scan; first-token index skips non-starts in
    O(1) so cost is ~one set probe per token.
    """
    if not text:
        return []
    tokens = text.split(" ")
    lowers = [t.lower() for t in tokens]
    starts = trie.starts
    surfaces = trie.surfaces
    # character offset of each token
    offsets = []
    pos = 0
    for tok in tokens:
        offsets.append(pos)
        pos += len(tok) + 1
    mentions: list[Mention] = []
    i = 0
    n = len(tokens)
    while i < n:
        if lowers[i] not in starts:
            i += 1
            continue
        matched = False
        for k in range(min(MAX_NGRAM, n - i), 0, -1):
            cands = surfaces.get(" ".join(lowers[i : i + k]))
            if cands:
                mentions.append(
                    Mention(offsets[i], " ".join(tokens[i : i + k]), tuple(cands))
                )
                i += k
                matched = True
                break
        if not matched:
            i += 1
    return mentions


class _BatchScan:
    """Shared state of one vectorized scan over a batch of texts: flat
    (batch-wide) token arrays plus the detected mentions in emit order.

    Vectorization levers (why this beats the per-token scalar scan):
    - tokenize + token-interning run as Arrow C++ kernels
      (pc.split_pattern → ListArray, pc.dictionary_encode → int codes):
      no Python string is ever materialized per token — the batch's texts
      stay in Arrow buffers end to end, and row boundaries come from the
      ListArray offsets for free;
    - every per-token string op (lower, length, start-probe, md5 bucket)
      runs once per UNIQUE token — the corpus vocabulary is Zipf-tiny —
      and broadcasts back through the int code array. Lowercasing runs in
      PYTHON over the uniques (str.lower), not an Arrow kernel, so case
      mapping is bit-identical to the scalar detect() the oracle replays
      (utf8proc and CPython disagree on locale-special codepoints);
    - the 2-/3-gram dictionary probes run as ONE vectorized hash lookup per
      k (multi-word surfaces encoded as int64 keys over the batch's code
      space, probed with pd.Index.get_indexer at every eligible start
      position) — no per-position Python dict gets;
    - greedy suppression is sequential ONLY over multi-gram HITS (1-gram
      matches consume just their own token and cannot shadow anything);
      the positions inside accepted windows are cleared with one np.isin;
    - emitted surface strings are built column-at-a-time: per-unique Python
      strings (uniq_py[code]) for 1-gram matches, one Arrow
      binary_join_element_wise per k-group for multi-gram matches;
    - per-mention candidate resolution (_link_batch) gathers through
      m_gid — once per DISTINCT matched surface, not per mention.
    """

    __slots__ = (
        "codes", "counts", "row_first",
        "uniq_lower",
        "m_row", "m_start", "m_surface", "m_cands", "m_gid",
    )

    def __init__(self, texts, trie: Trie):
        import pyarrow as pa
        import pyarrow.compute as pc

        if isinstance(texts, pa.ChunkedArray):
            texts = texts.combine_chunks()
        if not isinstance(texts, pa.Array):
            texts = pa.array(
                [t if t is not None else "" for t in texts], pa.string()
            )
        elif texts.null_count:
            texts = pc.fill_null(texts, "")  # None-safe, like scalar detect
        self.m_row: list[int] = []
        self.m_start: list[int] = []
        self.m_surface: list[str] = []
        self.m_cands: list[tuple] = []
        # per-mention SURFACE id (same gid ⇒ same candidate tuple): the
        # lowercase token code for 1-gram matches, an offset-shifted index
        # into the multi-surface tables for 2/3-grams. Lets _link_batch
        # resolve candidates once per DISTINCT matched surface (≤ lexicon
        # size) and numpy-gather, instead of a per-mention Python loop.
        self.m_gid = np.empty(0, np.int64)
        if len(texts) == 0:
            self.codes = np.empty(0, np.int64)
            self.counts = np.empty(0, np.int64)
            self.row_first = np.empty(0, np.int64)
            self.uniq_lower = np.empty(0, object)
            return
        # ONE C-level split for the whole batch; an empty text contributes
        # one phantom '' token (never a surface, never a mention — harmless,
        # and scalar detect() early-outs to [] for it)
        toks = pc.split_pattern(texts, " ")
        if isinstance(toks, pa.ChunkedArray):
            toks = toks.combine_chunks()
        offsets = toks.offsets.to_numpy().astype(np.int64)
        flat_arr = toks.flatten()
        enc = pc.dictionary_encode(flat_arr)
        codes = enc.indices.to_numpy().astype(np.int64)
        uniq_arr = enc.dictionary
        uniq_py: list[str] = uniq_arr.to_pylist()
        # Python-exact lowercase, once per unique
        low_py = [u.lower() for u in uniq_py]
        self.codes = codes
        self.uniq_lower = np.asarray(low_py, dtype=object)
        self.row_first = offsets[:-1]
        row_end_a = offsets[1:]
        self.counts = row_end_a - self.row_first

        # case-folded code space: case variants of a token must share one
        # code or the code-tuple probes below miss
        import pandas as pd

        u2l, l_uniques = pd.factorize(self.uniq_lower, sort=False)
        lcodes = u2l[codes]
        uniq_list = l_uniques.tolist()

        # per-lowercase-unique precomputation: start flag, probe-depth cap,
        # and the 1-gram candidate list. A start token whose longest surface
        # is one word IS a surface — its match needs zero dict probes.
        starts = trie.starts
        uniq_is_start = np.fromiter(
            (u in starts for u in uniq_list), bool, len(uniq_list)
        )
        start_pos = np.flatnonzero(uniq_is_start[lcodes])
        if len(start_pos) == 0:
            return
        surfaces = trie.surfaces
        maxlen_l = [trie.start_maxlen.get(u, 0) for u in uniq_list]
        # pre-tupled so the emit path never re-tuples per mention
        cands1_l = [
            tuple(c) if (c := surfaces.get(u)) is not None else None
            for u in uniq_list
        ]
        # multi-word surfaces compiled to ENCODED INT KEYS over this batch's
        # code space: a 2-gram surface (c0,c1) becomes c0*V + c1, a 3-gram
        # (c0*V + c1)*V + c2 — so the probe for EVERY start position in the
        # batch is one vectorized hash lookup (pd.Index.get_indexer), not a
        # per-position Python dict get
        assert MAX_NGRAM == 3
        V = len(uniq_list)
        tok2code = {t: i for i, t in enumerate(uniq_list)}
        k2_keys: list[int] = []
        k2_cands: list[tuple] = []
        k3_keys: list[int] = []
        k3_cands: list[tuple] = []
        for stoks, cands in trie.multi_surfaces:
            cs = [tok2code.get(t, -1) for t in stoks]
            if -1 in cs:
                continue  # some token absent from the batch: cannot match
            if len(cs) == 2:
                k2_keys.append(cs[0] * V + cs[1])
                k2_cands.append(tuple(cands))
            else:
                k3_keys.append((cs[0] * V + cs[1]) * V + cs[2])
                k3_cands.append(tuple(cands))

        # char offset of each token within its row (cumsum of len+1 rebased
        # per row) — materialized only at start positions. utf8_length
        # counts code points, same as Python len().
        ulen = pc.utf8_length(uniq_arr).to_numpy().astype(np.int64)
        lens_plus = ulen[codes] + 1
        gcum = np.concatenate(([0], np.cumsum(lens_plus)[:-1]))
        sp = start_pos
        sp_rows = np.searchsorted(row_end_a, sp, side="right")
        off_s = gcum[sp] - gcum[self.row_first[sp_rows]]
        end_pos = row_end_a[sp_rows]
        c0 = lcodes[sp]
        ml_s = np.asarray(maxlen_l, np.int64)[c0]
        avail = end_pos - sp

        # --- vectorized TENTATIVE probes (position-independent: exactly
        # what the scalar greedy scan would compute at an unconsumed
        # position) ------------------------------------------------------
        k_arr = np.ones(len(sp), np.int64)
        midx = np.full(len(sp), -1, np.int64)  # hit index into k?_cands
        is3 = np.zeros(len(sp), bool)
        valid = np.asarray(
            [c is not None for c in cands1_l], bool
        )[c0]  # 1-gram fallback: start token that is itself a surface
        if k3_keys and V * V * V < (1 << 62):  # encoding exact in int64
            m3 = (ml_s >= 3) & (avail >= 3)
            if m3.any():
                pos3 = sp[m3]
                keys3 = (c0[m3] * V + lcodes[pos3 + 1]) * V + lcodes[pos3 + 2]
                idx3 = pd.Index(np.asarray(k3_keys, np.int64)).get_indexer(keys3)
                hit = idx3 >= 0
                tgt = np.flatnonzero(m3)[hit]
                k_arr[tgt] = 3
                midx[tgt] = idx3[hit]
                is3[tgt] = True
                valid[tgt] = True
        elif k3_keys:  # batch vocabulary too large to encode: dict probes
            surf3 = {}
            for key, cands in zip(k3_keys, k3_cands):
                surf3[key] = cands  # keys are python ints (no overflow)
            for j in np.flatnonzero((ml_s >= 3) & (avail >= 3)).tolist():
                f = int(sp[j])
                key = (int(c0[j]) * V + int(lcodes[f + 1])) * V + int(
                    lcodes[f + 2]
                )
                hit_c = surf3.get(key)
                if hit_c is not None:
                    k_arr[j] = 3
                    midx[j] = len(k3_cands)
                    k3_cands.append(hit_c)
                    is3[j] = True
                    valid[j] = True
        if k2_keys:
            m2 = (~is3) & (ml_s >= 2) & (avail >= 2)
            if m2.any():
                keys2 = c0[m2] * V + lcodes[sp[m2] + 1]
                idx2 = pd.Index(np.asarray(k2_keys, np.int64)).get_indexer(keys2)
                hit = idx2 >= 0
                tgt = np.flatnonzero(m2)[hit]
                k_arr[tgt] = 2
                midx[tgt] = idx2[hit]
                valid[tgt] = True

        # --- greedy suppression: a k-gram match consumes [f, f+k), so later
        # start positions inside it are skipped. 1-gram matches consume only
        # their own token (start positions are distinct flat indices), so
        # ONLY valid multi-gram matches can suppress anything. Two steps:
        # (1) a sequential acceptance pass over just the multi-gram HITS
        # (greedy chains: an accepted 3-gram can shadow the next multi hit,
        # which then cannot shadow what follows), (2) one vectorized isin
        # marking every start position inside an accepted window ------------
        multi_hit = valid & (k_arr > 1)
        if multi_hit.any():
            mh = np.flatnonzero(multi_hit)
            mh_f = sp[mh].tolist()
            mh_row = sp_rows[mh].tolist()
            mh_k = k_arr[mh].tolist()
            acc_f: list[int] = []  # accepted window starts
            acc_k: list[int] = []
            cur_row = -1
            nxt = 0
            for t in range(len(mh_f)):
                f = mh_f[t]
                r = mh_row[t]
                if r != cur_row:
                    cur_row = r
                elif f < nxt:
                    valid[mh[t]] = False  # shadowed by an earlier window
                    continue
                nxt = f + mh_k[t]
                acc_f.append(f)
                acc_k.append(mh_k[t])
            # windows never span rows (avail >= k), so shadowed flat
            # positions can't leak into a neighboring row
            af = np.asarray(acc_f, np.int64)
            ak = np.asarray(acc_k, np.int64)
            shadowed = np.concatenate([af + 1, (af + 2)[ak == 3]])
            valid[np.isin(sp, shadowed)] = False

        # --- emit, in position order, column-at-a-time --------------------
        vm = np.flatnonzero(valid)
        if len(vm) == 0:
            return
        self.m_row = sp_rows[vm].tolist()
        self.m_start = off_s[vm].tolist()
        codes_o_v = codes[sp[vm]].tolist()  # original case for surfaces
        self.m_surface = [uniq_py[c] for c in codes_o_v]
        c0_v = c0[vm]
        gid = c0_v.copy()  # 1-gram gid = lowercase token code
        self.m_cands = [cands1_l[c] for c in c0_v.tolist()]
        k_v = k_arr[vm]
        multi_pos = np.flatnonzero(k_v > 1)
        if len(multi_pos):
            # multi-gram surfaces joined as ARROW kernels per k-group (one
            # binary_join_element_wise per k), never a per-mention " ".join
            m_surface, m_cands = self.m_surface, self.m_cands
            sp_v = sp[vm]
            midx_v = midx[vm]
            is3_v = is3[vm]
            n2 = len(k2_cands)
            gid[multi_pos] = np.where(
                is3_v[multi_pos], V + n2 + midx_v[multi_pos],
                V + midx_v[multi_pos],
            )
            for kk in (2, 3):
                grp = multi_pos[k_v[multi_pos] == kk]
                if not len(grp):
                    continue
                fg = sp_v[grp]
                parts = [
                    pc.take(uniq_arr, pa.array(codes[fg + d], pa.int64()))
                    for d in range(kk)
                ]
                joined = pc.binary_join_element_wise(*parts, " ").to_pylist()
                cand_tab = k3_cands if kk == 3 else k2_cands
                mi = midx_v[grp].tolist()
                for out_i, (t, s) in enumerate(zip(grp.tolist(), joined)):
                    m_surface[t] = s
                    m_cands[t] = cand_tab[mi[out_i]]
        self.m_gid = gid

    def context_vectors(self, rows: list[int], dim: int = EMBED_DIM) -> np.ndarray:
        """featurize(texts[r]) for the requested rows, batch-vectorized:
        md5 buckets once per unique token, one np.add.at scatter for all
        rows. Bit-identical to the scalar featurize — the accumulated
        values are ±1 (exact in float64, order-independent), and the norm/
        division are the same numpy ops."""
        sel = np.asarray(rows, np.int64)
        lengths = self.counts[sel]
        starts = self.row_first[sel]
        total = int(lengths.sum())
        mat = np.zeros((len(sel), dim), np.float64)
        if total:
            out_row = np.repeat(np.arange(len(sel)), lengths)
            base = np.repeat(starts, lengths)
            within = np.arange(total) - np.repeat(
                np.concatenate(([0], np.cumsum(lengths)[:-1])), lengths
            )
            tok_codes = self.codes[base + within]
            buckets = np.empty(len(self.uniq_lower), np.int64)
            signs = np.empty(len(self.uniq_lower), np.float64)
            valid_u = np.empty(len(self.uniq_lower), bool)
            for i, tok in enumerate(self.uniq_lower):
                if tok:
                    buckets[i], signs[i] = _stable_bucket(tok, dim)
                    valid_u[i] = True
                else:
                    buckets[i], signs[i], valid_u[i] = 0, 0.0, False
            ok = valid_u[tok_codes]
            np.add.at(
                mat, (out_row[ok], buckets[tok_codes[ok]]), signs[tok_codes[ok]]
            )
        norms = np.linalg.norm(mat, axis=1)
        nz = norms > 0
        mat[nz] /= norms[nz][:, None]
        return mat


def detect_batch(texts, trie: Trie) -> list[list[Mention]]:
    """Batch-vectorized detect(): produces EXACTLY detect(t, trie) per text
    (the parity test iterates the whole fixture corpus)."""
    scan = _BatchScan(texts, trie)
    out: list[list[Mention]] = [[] for _ in texts]
    for r, start, surface, cands in zip(
        scan.m_row, scan.m_start, scan.m_surface, scan.m_cands
    ):
        out[r].append(Mention(start, surface, cands))
    return out


def _link_batch(scan: _BatchScan, emb_map):
    """Link every detected mention of a scan: unambiguous mentions resolve
    directly (score 0.0, the common case); ambiguous ones rerank against
    ONE per-row context vector. Returns (curies, ntypes, scores).

    Vectorized via scan.m_gid: candidates are inspected once per DISTINCT
    matched surface (bounded by lexicon size, not mention count) and the
    per-mention curie/node_type columns are numpy object-array gathers;
    Python touches individual mentions only on the ambiguous rerank path."""
    n_m = len(scan.m_row)
    scores = np.zeros(n_m, np.float64)
    if n_m == 0:
        return [], [], scores
    gids, first_idx, inv = np.unique(
        scan.m_gid, return_index=True, return_inverse=True
    )
    nu = len(gids)
    curie_u = np.empty(nu, object)
    ntype_u = np.empty(nu, object)
    amb_u = np.zeros(nu, bool)
    m_cands = scan.m_cands
    for t in range(nu):  # once per distinct surface, not per mention
        c = m_cands[first_idx[t]]
        if len(c) == 1:
            curie_u[t] = c[0].curie
            ntype_u[t] = c[0].node_type
        else:
            curie_u[t] = ""
            ntype_u[t] = ""
            amb_u[t] = True
    curies = curie_u[inv]
    ntypes = ntype_u[inv]
    amb = np.flatnonzero(amb_u[inv])
    if len(amb):
        m_row = scan.m_row
        amb_rows = sorted({m_row[i] for i in amb})
        ctx = scan.context_vectors(amb_rows, dim=emb_dim(emb_map))
        row_ctx = {r: ctx[j] for j, r in enumerate(amb_rows)}
        for i in amb.tolist():
            cand, score = pick_candidate(
                m_cands[i], row_ctx[m_row[i]], emb_map
            )
            curies[i] = cand.curie
            ntypes[i] = cand.node_type
            scores[i] = score
    return curies.tolist(), ntypes.tolist(), scores


def mention_record_batch(batch, trie, emb_map):
    """The mention-UDF body for mapInArrow, batch-vectorized end to end:
    detect → link → column assembly over a pyarrow RecordBatch (doc_id,
    span_pos, offset, text) → pyarrow RecordBatch in the mention-UDF
    schema. Input columns are never converted to pandas — texts go straight
    into the Arrow-kernel scan, and the output doc_id/span_pos/span_offset
    columns are pc.take gathers on the input buffers. Emission order and
    values are those of the scalar detect() + link_mentions() loop (the
    shared _BatchScan is parity-tested through detect_batch)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    scan = _BatchScan(batch.column("text"), trie)
    curies, ntypes, scores = _link_batch(scan, emb_map)
    idx = pa.array(scan.m_row, pa.int64())
    return pa.RecordBatch.from_arrays(
        [
            pc.take(batch.column("doc_id"), idx),
            pc.take(batch.column("span_pos"), idx),
            pc.take(batch.column("offset"), idx),
            pa.array(scan.m_start, pa.int32()),
            pa.array(scan.m_surface, pa.string()),
            pa.array(curies, pa.string()),
            pa.array(ntypes, pa.string()),
            pa.array(scores, pa.float64()),
        ],
        names=[
            "doc_id", "span_pos", "span_offset", "mention_start",
            "surface", "curie", "node_type", "score",
        ],
    )


@lru_cache(maxsize=1 << 20)
def _stable_bucket(token: str, dim: int) -> tuple[int, float]:
    """md5-based stable (bucket, sign) — identical across processes/JVMs,
    unlike Python's salted hash(). Cached: corpus tokens repeat heavily."""
    h = hashlib.md5(token.encode("utf-8")).digest()
    bucket = int.from_bytes(h[:4], "big") % dim
    sign = 1.0 if h[4] & 1 else -1.0
    return bucket, sign


def featurize(text: str, dim: int = EMBED_DIM) -> np.ndarray:
    """Deterministic hashed bag-of-words context vector, L2-normalized."""
    vec = np.zeros(dim, dtype=np.float64)
    if text:
        for tok in text.lower().split(" "):
            if not tok:
                continue
            b, s = _stable_bucket(tok, dim)
            vec[b] += s
    norm = np.linalg.norm(vec)
    if norm > 0:
        vec /= norm
    return vec


def emb_dim(emb_map: dict[str, np.ndarray], default: int = EMBED_DIM) -> int:
    """Context-vector width must follow the SUPPLIED embedding table — the
    emb_map/featurize pair is the declared swap seam for real encoder
    vectors (SURVEY §8 known-gap #2), and a production table is rarely
    64-wide. The hashed-BoW stand-in featurizes at any width, so the only
    thing the seam genuinely requires is that this dim plumb through to
    every context_vectors/featurize call (parametrized-dim seam tests)."""
    for v in emb_map.values():
        return len(v)
    return default


def pick_candidate(
    candidates: tuple[Candidate, ...],
    context_vec: np.ndarray,
    emb_map: dict[str, np.ndarray],
) -> tuple[Candidate, float]:
    """Argmax cosine(context, entity-embedding); tie-break min CURIE.

    Missing embedding scores 0. Reference analog: max/argmax similarity
    (builder/chemotext2.py:51-64, SURVEY.md §2.4 A6).
    """
    best: Candidate | None = None
    best_score = -np.inf
    for cand in candidates:  # candidates already sorted by curie
        emb = emb_map.get(cand.curie)
        score = float(context_vec @ emb) if emb is not None else 0.0
        if score > best_score:
            best, best_score = cand, score
    assert best is not None
    return best, best_score


def link_mentions(
    text: str,
    mentions: list[Mention],
    emb_map: dict[str, np.ndarray],
) -> list[tuple[Mention, Candidate, float]]:
    """Link each mention: unambiguous surfaces resolve directly (score 0.0,
    no featurize — the common case); ambiguous ones rerank against the
    lazily-built context vector. Shared by the Spark UDF and the golden
    oracle so linking semantics cannot drift."""
    out = []
    ctx: np.ndarray | None = None
    for m in mentions:
        if len(m.candidates) == 1:
            out.append((m, m.candidates[0], 0.0))
            continue
        if ctx is None:
            ctx = featurize(text, dim=emb_dim(emb_map))
        cand, score = pick_candidate(m.candidates, ctx, emb_map)
        out.append((m, cand, score))
    return out
