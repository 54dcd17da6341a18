#!/usr/bin/env python3
"""Independent (pure-Python, see xxh64.py) implementation of the
hash-based analysis queries, producing expected parquet the driver's
DuckDB oracle can hash-compare — converting q25/q26/q27/q45/q48/q50 from
`no_oracle` rows-only checks into genuine cross-implementation checks.

Inputs are the SAME tables the queries read: documents.parquet at the
sf the driver verifies with (sf0.01). Re-run after changing that input
or any of the mirrored semantics:

    python3 fixtures/gen_hash_expected.py [sfDir]

Writes (all under fixtures/):
    expected_simhash.parquet        (doc_id, simhash)        for q26
    expected_fingerprint.parquet    (doc_id, fp)             for q27
    expected_minhash_pairs.parquet  (id_a, id_b, jaccard)    for q25
    expected_simhash_pairs.parquet  (id_a, id_b, hamming)    for q45
    expected_dedup_cascade.parquet  (id_a, id_b, jaccard)    for q48
    expected_dup_clusters.parquet   (doc_id, cluster_keeper) for q51
    expected_curate.parquet   (doc_id, lang_pred, n_tokens,
                               punct_ratio)                   for q50
    expected_contamination.parquet  (doc_id, n_hits)          for q58
    expected_release.parquet  (doc_id, source, n_tokens,
                               split)                         for q64
    expected_bpe.parquet      (doc_id, n_bpe)                 for q65
    expected_runs.parquet     (doc_id, start, len)            for q74

Mirrored semantics (kept in lockstep with graft.analysis.TextOps — the
constants here ARE the spec):
    tokens:    [\\p{L}0-9']+ over lower(text)
    simhash:   per-bit majority vote of xxhash64(token), 64 bits
    fingerprint: chain acc=1125899906842597; acc=xxhash64(acc, token)
    minhash:   3-gram shingles joined ' ', distinct, h=xxhash64(shingle);
               sig[p]=min_h xxhash64(int p, long h), m=16 (SIGNED min);
               band key = xxhash64(concat_ws('_', sig[4b:4b+4])), 4 bands;
               pairs share any band; jaccard over shingle-hash sets >= .5
    simhash bands: 4 x 16-bit chunks of the simhash; hamming <= 3
    cascade:   exact collapse on xxhash64(text) (keeper = min id), then
               the minhash join over keepers only
"""
import os
import sys

import duckdb
import regex

from xxh64 import hash_int, hash_long, hash_utf8, spark_xxhash64, to_signed

HERE = os.path.dirname(os.path.abspath(__file__))
TOKEN_RE = regex.compile(r"[\p{L}0-9']+")
LONG_MAX = (1 << 63) - 1


def tokens(text):
    return TOKEN_RE.findall(text.lower())


def simhash(text):
    votes = [0] * 64
    for t in tokens(text):
        h = hash_utf8(t, 42)  # unsigned view; bit b == Java (h >>> b) & 1
        for b in range(64):
            votes[b] += 1 if (h >> b) & 1 else -1
    u = 0
    for b in range(64):
        if votes[b] > 0:
            u |= 1 << b
    return to_signed(u)


def fingerprint(text):
    acc = 1125899906842597
    for t in tokens(text):
        acc = to_signed(hash_utf8(t, hash_long(acc, 42)))
    return acc


def shingle_hashes(text, n=3):
    toks = tokens(text)
    return {to_signed(hash_utf8(" ".join(toks[i:i + n]), 42))
            for i in range(len(toks) - n + 1)}


def minhash_sig(hs, m=16):
    sig = []
    for p in range(m):
        seed_p = hash_int(p, 42)
        sig.append(min((to_signed(hash_long(h, seed_p)) for h in hs),
                       default=LONG_MAX))
    return sig


def band_keys(sig, m=16, bands=4):
    rows = m // bands
    return [(b, to_signed(hash_utf8(
        "_".join(str(v) for v in sig[b * rows:(b + 1) * rows]), 42)))
        for b in range(bands)]


def minhash_pairs(docs, min_jaccard=0.5):
    """docs: {id: text}. Returns [(id_a, id_b, jaccard)]."""
    hs = {i: shingle_hashes(t) for i, t in docs.items()}
    buckets = {}
    for i in docs:
        for key in band_keys(minhash_sig(hs[i])):
            buckets.setdefault(key, []).append(i)
    # q69 oracle precondition: its restriction argument ("the q25 pair
    # set restricted to base ids == the base-only pair set") holds only
    # while Buckets.selfPairs's salt never fires — i.e. no (band, bucket)
    # exceeds the Spark side's maxBucket default in ANY mirrored corpus.
    # Fail the generation loudly if a corpus change ever breaks that.
    oversized = {k: len(v) for k, v in buckets.items() if len(v) > 4096}
    assert not oversized, (
        "minhash bucket(s) exceed maxBucket=4096 — the q69 restriction "
        f"oracle is no longer valid: {oversized}")
    pairs = set()
    for members in buckets.values():
        members.sort()
        for x in range(len(members)):
            for y in range(x + 1, len(members)):
                pairs.add((members[x], members[y]))
    out = []
    for a, b in sorted(pairs):
        inter = len(hs[a] & hs[b])
        union = len(hs[a] | hs[b])
        j = inter / union if union else 0.0
        if j >= min_jaccard:
            out.append((a, b, j))
    return out


def simhash_pairs(docs, bands=4, max_hamming=3):
    sh = {i: simhash(t) & ((1 << 64) - 1) for i, t in docs.items()}
    buckets = {}
    for i in docs:
        for b in range(bands):
            key = (b, (sh[i] >> (b * (64 // bands))) & ((1 << (64 // bands)) - 1))
            buckets.setdefault(key, []).append(i)
    pairs = set()
    for members in buckets.values():
        members.sort()
        for x in range(len(members)):
            for y in range(x + 1, len(members)):
                pairs.add((members[x], members[y]))
    out = []
    for a, b in sorted(pairs):
        h = bin(sh[a] ^ sh[b]).count("1")
        if h <= max_hamming:
            out.append((a, b, h))
    return out


def write(con, name, ddl, rows):
    con.execute(f"DROP TABLE IF EXISTS t; CREATE TABLE t ({ddl})")
    if rows:
        con.executemany(
            f"INSERT INTO t VALUES ({', '.join('?' * len(rows[0]))})", rows)
    out = f"{HERE}/{name}.parquet"
    con.execute(f"COPY t TO '{out}' (FORMAT PARQUET)")
    print(f"wrote {len(rows):6d} rows to {name}.parquet")


# ---- curation mirror (q50) -------------------------------------------
# Java-exact \s class (ASCII whitespace; Python's unicode \s would also
# eat NBSP — the corpus is ASCII so both agree, but mirror exactly)
PUNCT_RE = regex.compile(r"[^\p{L}0-9 \t\n\x0B\f\r]")
LANG_RES = [
    ("en", regex.compile(r"\b(?:the|and|of|is|was)\b")),
    ("fr", regex.compile(r"\b(?:le|la|les|des|est|une)\b")),
    ("de", regex.compile(r"\b(?:der|die|das|und|ist)\b")),
    ("es", regex.compile(r"\b(?:el|los|las|es|una)\b")),
]


def lang_pred(text):
    low = text.lower()
    best_l, best_s = LANG_RES[0][0], len(LANG_RES[0][1].findall(low))
    for l, r in LANG_RES[1:]:
        s = len(r.findall(low))
        if s > best_s:  # strict: declaration-order tiebreak like markerLang
            best_l, best_s = l, s
    return best_l


def curate(docs, lang="en", min_tokens=30, max_punct=0.2, min_jaccard=0.5):
    """Mirror of TextOps.curate: returns kept rows
    (doc_id, lang_pred, n_tokens, punct_ratio)."""
    staged = {}
    for i, t in docs.items():
        n_tok = len(tokens(t))
        n_chars = len(t)
        n_punct = len(PUNCT_RE.findall(t))
        pr = n_punct / n_chars if n_chars > 0 else 0.0
        lp = lang_pred(t)
        if lp == lang and n_tok >= min_tokens and pr <= max_punct:
            staged[i] = (t, lp, n_tok, pr)
    # exact collapse on the text itself, min-id keeper
    by_text = {}
    for i in sorted(staged):
        by_text.setdefault(staged[i][0], i)
    keepers = {i: staged[i][0] for i in by_text.values()}
    # near-dup drop: higher id of each pair
    dropped = {max(a, b) for a, b, _ in minhash_pairs(keepers, min_jaccard)}
    return sorted((i, staged[i][1], staged[i][2], staged[i][3])
                  for i in keepers if i not in dropped)


# ---- BPE mirror (q65) -------------------------------------------------
# Mirrors graft.analysis.Bpe symbol-for-symbol: words are the TOKEN_RE
# runs of lower(text); BPE merges inside words only; every non-word
# non-space char is one token. Training = Sennrich loop with
# left-to-right NON-OVERLAPPING pair counting (so counting and merging
# agree on runs like "aaa"), ties to the lexicographically smallest
# (left, right); application = greedy lowest-rank-first.
SYMBOL_RE = regex.compile(r"[^\p{L}0-9' \t\n\x0B\f\r]")


def bpe_merge_all(syms, l, r):
    out, i = [], 0
    while i < len(syms):
        if i < len(syms) - 1 and syms[i] == l and syms[i + 1] == r:
            out.append(l + r)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return out


def bpe_train(word_counts, n_merges):
    active = [(list(w), c) for w, c in word_counts if len(list(w)) >= 2]
    merges = []
    while len(merges) < n_merges:
        counts = {}
        for syms, c in active:
            i = 0
            while i < len(syms) - 1:
                p = (syms[i], syms[i + 1])
                counts[p] = counts.get(p, 0) + c
                if i < len(syms) - 2 and syms[i] == syms[i + 1] == syms[i + 2]:
                    i += 2
                else:
                    i += 1
        best, best_n = None, 1  # a pair must repeat to earn a merge
        for p, n in counts.items():
            if n > best_n or (n == best_n and best is not None and p < best):
                best, best_n = p, n
        if best is None:
            break
        merges.append(best)
        active = [(m, c) for syms, c in active
                  for m in [bpe_merge_all(syms, *best)] if len(m) >= 2]
    return merges


def bpe_count_word(word, ranks):
    syms = list(word)
    while len(syms) >= 2:
        best, best_rank = None, None
        for i in range(len(syms) - 1):
            r = ranks.get((syms[i], syms[i + 1]))
            if r is not None and (best_rank is None or r < best_rank):
                best, best_rank = (syms[i], syms[i + 1]), r
        if best is None:
            break
        syms = bpe_merge_all(syms, *best)
    return len(syms)


def main(sf_dir):
    con = duckdb.connect()
    base = dict(con.execute(
        f"SELECT doc_id, text FROM read_parquet('{sf_dir}/documents.parquet') "
        "ORDER BY doc_id").fetchall())

    # q26 / q27: per-doc sketches over the raw table
    write(con, "expected_simhash", "doc_id BIGINT, simhash BIGINT",
          [(i, simhash(t)) for i, t in base.items()])
    write(con, "expected_fingerprint", "doc_id BIGINT, fp BIGINT",
          [(i, fingerprint(t)) for i, t in base.items()])

    # q25: base + injected near-dups (ids +1000000, text + ' extra token')
    q25 = dict(base)
    for i, t in base.items():
        if i < 20:
            q25[i + 1000000] = t + " extra token"
    write(con, "expected_minhash_pairs",
          "id_a BIGINT, id_b BIGINT, jaccard DOUBLE", minhash_pairs(q25))

    # q45: base + injected near-dups (ids +2000000, text + ' zz')
    q45 = dict(base)
    for i, t in base.items():
        if i < 20:
            q45[i + 2000000] = t + " zz"
    write(con, "expected_simhash_pairs",
          "id_a BIGINT, id_b BIGINT, hamming INTEGER", simhash_pairs(q45))

    # q51: union-find clusters over the q25 pair set — every doc in a
    # pair labelled with the min id reachable through the pair graph
    pairs = minhash_pairs(q25)
    parent = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b, _ in pairs:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    write(con, "expected_dup_clusters", "doc_id BIGINT, cluster_keeper BIGINT",
          sorted((i, find(i)) for i in parent))

    # q48: exact->near cascade — base + a 500-strong identical cluster of
    # doc 0's text + the q25-style near-dups; exact collapse on
    # xxhash64(text) with min-id keeper, then minhash over keepers only
    q48 = dict(q25)
    for i in range(500):
        q48[5000000 + i] = base[0]
    groups = {}
    for i, t in sorted(q48.items()):
        groups.setdefault(to_signed(hash_utf8(t, 42)), []).append(i)
    keepers = {min(ids): q48[min(ids)] for ids in groups.values()}
    write(con, "expected_dedup_cascade",
          "id_a BIGINT, id_b BIGINT, jaccard DOUBLE", minhash_pairs(keepers))

    # q50: the complete curation pass over base + near-dups + a
    # 100-clone cluster of doc 1's text
    q50 = dict(q25)
    for i in range(100):
        q50[6000000 + i] = base[1]
    write(con, "expected_curate",
          "doc_id BIGINT, lang_pred VARCHAR, n_tokens INTEGER, punct_ratio DOUBLE",
          curate(q50))

    # q58: benchmark decontamination — 8-gram shingle-hash overlap vs the
    # benchmark set (docs 0-4's texts); corpus = base + planted probes
    # (doc 0-2's text behind a prefix, ids +3000000); flagged docs with
    # n_hits = |doc 8-gram set ∩ benchmark 8-gram set| >= 1
    q58 = dict(base)
    for i, t in base.items():
        if i < 3:
            q58[i + 3000000] = "prefix words ahead then " + t
    bench = set()
    for i in range(5):
        bench |= shingle_hashes(base[i], n=8)
    write(con, "expected_contamination", "doc_id BIGINT, n_hits BIGINT",
          sorted((i, len(shingle_hashes(t, n=8) & bench))
                 for i, t in q58.items()
                 if len(shingle_hashes(t, n=8) & bench) >= 1))

    # q63: deterministic 90/5/5 hash split — bucket = pmod(xxhash64(id),
    # 1e6) (Python % on the signed hash == Spark pmod: non-negative);
    # thresholds = round(cum_fraction * 1e6)
    buckets = 1000000
    ths = [(round(0.9 * buckets), "train"),
           (round(0.95 * buckets), "val"),
           (buckets, "test")]

    def split_of(i):
        b = to_signed(hash_long(i, 42)) % buckets
        for th, name in ths:
            if b < th:
                return name
        return ths[-1][1]
    write(con, "expected_split", "doc_id BIGINT, split VARCHAR",
          sorted((i, split_of(i)) for i in base))

    # q64: the composed corpus RELEASE over the q50 corpus (base +
    # near-dups + clone cluster) with the q58 benchmark (docs 0-4):
    #   curate -> decontaminate (8-gram overlap, minHits 1) ->
    #   per-source quota (12 best by (n_tokens desc, id asc)) ->
    #   deterministic 90/5/5 split on the doc id.
    # Injected docs carry literal sources (mirroring the Spark query).
    srcs = dict(con.execute(
        f"SELECT doc_id, source FROM read_parquet('{sf_dir}/documents.parquet')"
    ).fetchall())

    def src_of(i):
        if i in srcs:
            return srcs[i]
        return "dup.example.com" if i < 6000000 else "clone.example.com"

    clean = [(i, ntok) for (i, _lp, ntok, _pr) in curate(q50)
             if not (shingle_hashes(q50[i], n=8) & bench)]
    by_src = {}
    for i, ntok in clean:
        by_src.setdefault(src_of(i), []).append((i, ntok))
    quota_keep = set()
    for lst in by_src.values():
        lst.sort(key=lambda x: (-x[1], x[0]))
        quota_keep |= {i for i, _ in lst[:12]}
    write(con, "expected_release",
          "doc_id BIGINT, source VARCHAR, n_tokens INTEGER, split VARCHAR",
          sorted((i, src_of(i), ntok, split_of(i))
                 for i, ntok in clean if i in quota_keep))

    # q72: incremental snapshot-vs-base dedup — snapshot 1 (doc_id <
    # 250) is the base; snapshot 2 = the rest + near-dups of BASE docs
    # (ids +7000000) + near-dups WITHIN the snapshot (ids +7100000).
    # Composed independently of the Spark operator: base band table,
    # cross band-key lookup + jaccard rerank, snapshot-internal
    # minhash_pairs, greedy keeper rule (drop cross-matched new ids and
    # the greater id of each new-new pair).
    base_snap = {i: t for i, t in base.items() if i < 250}
    new_snap = {i: t for i, t in base.items() if i >= 250}
    for i, t in base.items():
        if i < 10:
            new_snap[i + 7000000] = t + " extra token"
        if 250 <= i < 260:
            new_snap[i + 7100000] = t + " extra token"
    base_hs = {i: shingle_hashes(t) for i, t in base_snap.items()}
    base_buckets = {}
    for i in base_snap:
        for key in band_keys(minhash_sig(base_hs[i])):
            base_buckets.setdefault(key, []).append(i)
    new_hs = {i: shingle_hashes(t) for i, t in new_snap.items()}
    cross = set()
    for i in new_snap:
        for key in band_keys(minhash_sig(new_hs[i])):
            for b in base_buckets.get(key, ()):
                cross.add((i, b))
    cross_pairs = []
    for a, b in sorted(cross):
        inter = len(new_hs[a] & base_hs[b])
        union = len(new_hs[a] | base_hs[b])
        j = inter / union if union else 0.0
        if j >= 0.5:
            cross_pairs.append((a, b, j))
    new_pairs = minhash_pairs(new_snap)
    dropped = {a for a, _b, _j in cross_pairs}
    dropped |= {max(a, b) for a, b, _j in new_pairs}
    rows = [("keeper", i, None, None) for i in sorted(new_snap)
            if i not in dropped]
    rows += [("cross", a, b, j) for a, b, j in cross_pairs]
    rows += [("new", a, b, j) for a, b, j in new_pairs]
    write(con, "expected_incremental",
          "kind VARCHAR, id_a BIGINT, id_b BIGINT, jaccard DOUBLE", rows)

    # q65: real BPE token counts — vocab trained on the SAME table
    # (200 merges, word types capped at 100000 by (count desc, word
    # asc) — UTF-8 bytewise and code-point order agree, so the cap set
    # matches Spark's orderBy), then greedy-applied per word + one
    # token per non-word non-space char
    wc = {}
    for t in base.values():
        for w in tokens(t):
            wc[w] = wc.get(w, 0) + 1
    top = sorted(wc.items(), key=lambda x: (-x[1], x[0]))[:100000]
    merges = bpe_train(top, 200)
    ranks = {p: i for i, p in enumerate(merges)}
    write(con, "expected_bpe", "doc_id BIGINT, n_bpe INTEGER",
          sorted((i, sum(bpe_count_word(w, ranks) for w in tokens(t))
                  # symbols scan lower(t) — the same string tokenIds
                  # walks, so count == len(ids) even when lowering
                  # expands a code point (BpeCountTwin mirrors this)
                  + len(SYMBOL_RE.findall(t.lower())))
                 for i, t in base.items()))

    # q73: tokenize + pack — mirrors Bpe.TokenVocab/BpeTokenIds/
    # Pack.packSequences. Alphabet = distinct non-ASCII-ws code points
    # of lower(text), code-point sorted, ids 0..A-1; merge r -> id
    # A + r (assigned by the MERGE applied, not string lookup — two
    # merges can yield the same string); UNK = A + M. Docs pack in
    # (xxhash64(doc_id), doc_id) order into 512-id sequences.
    ws = set(" \t\n\x0b\f\r")
    alpha = sorted({ch for t in base.values() for ch in t.lower()
                    if ch not in ws})
    aid = {ch: i for i, ch in enumerate(alpha)}
    big_a = len(alpha)
    unk = big_a + len(merges)

    def ids_of_word(word):
        syms = list(word)
        ids = [aid.get(s, unk) for s in syms]
        while len(syms) >= 2:
            best, best_rank = None, None
            for i in range(len(syms) - 1):
                r = ranks.get((syms[i], syms[i + 1]))
                if r is not None and (best_rank is None or r < best_rank):
                    best, best_rank = (syms[i], syms[i + 1]), r
            if best is None:
                break
            out_s, out_i, i = [], [], 0
            while i < len(syms):
                if i < len(syms) - 1 and (syms[i], syms[i + 1]) == best:
                    out_s.append(syms[i] + syms[i + 1])
                    out_i.append(big_a + best_rank)
                    i += 2
                else:
                    out_s.append(syms[i])
                    out_i.append(ids[i])
                    i += 1
            syms, ids = out_s, out_i
        return ids

    scan_re = regex.compile(r"[\p{L}0-9']+|[^\p{L}0-9' \t\n\x0B\f\r]")

    def doc_token_ids(text):
        out = []
        for m in scan_re.finditer(text.lower()):
            s = m.group(0)
            if TOKEN_RE.fullmatch(s):
                out.extend(ids_of_word(s))
            else:
                out.append(aid.get(s, unk))
        return out

    doc_toks = {i: doc_token_ids(t) for i, t in base.items()}
    order = sorted((i for i in doc_toks if doc_toks[i]),
                   key=lambda i: (to_signed(hash_long(i, 42)), i))
    seq_len = 512
    rows, off = [], 0
    for i in order:
        tids = doc_toks[i]
        n = len(tids)
        for s in range(off // seq_len, (off + n - 1) // seq_len + 1):
            gs = max(off, s * seq_len)
            ge = min(off + n, (s + 1) * seq_len)
            rows.append(("span", s, i, gs - s * seq_len, ge - gs))
            for k in range(gs, ge):
                rows.append(("tok", s, k - s * seq_len, tids[k - off], None))
        off += n
    write(con, "expected_pack",
          "kind VARCHAR, seq_id BIGINT, a BIGINT, b BIGINT, c BIGINT", rows)

    # q74: exact-substring (verbatim-run) dedup — BRUTE FORCE and
    # collision-free: count minRun-token TUPLES (no hashing) corpus-wide
    # over documents + planted verbatim copies (15 tokens [5:20] of each
    # donor doc with >= 25 tokens among ids 0..14, wrapped in unique
    # pre/post padding, ids +8000000); flag positions whose tuple count
    # is >= 2; merge each doc's sorted flagged positions into maximal
    # intervals (chain while p <= current end = last chained p + minRun).
    # Spark counts 64-bit xxhash64 shingle hashes instead of tuples, so
    # a green q74 also certifies no hash collision fired at this scale.
    minrun = 10
    run_docs = dict(base)
    for i, t in base.items():
        if i < 15:
            tk = tokens(t)
            if len(tk) >= 25:
                run_docs[i + 8000000] = (
                    "pre%d " % i + " ".join(tk[5:20]) + " post%d" % i)
    run_toks = {i: tokens(t) for i, t in run_docs.items()}
    freq = {}
    for tk in run_toks.values():
        for p in range(len(tk) - minrun + 1):
            g = tuple(tk[p:p + minrun])
            freq[g] = freq.get(g, 0) + 1
    rows = []
    for i in sorted(run_toks):
        tk = run_toks[i]
        cur = None
        for p in range(len(tk) - minrun + 1):
            if freq[tuple(tk[p:p + minrun])] < 2:
                continue
            if cur is not None and p <= cur[1]:
                cur = (cur[0], p + minrun)
            else:
                if cur is not None:
                    rows.append((i, cur[0], cur[1] - cur[0]))
                cur = (p, p + minrun)
        if cur is not None:
            rows.append((i, cur[0], cur[1] - cur[0]))
    write(con, "expected_runs", "doc_id BIGINT, start INTEGER, len INTEGER",
          rows)

    # q77: deterministic source-mixture sampling — same coin
    # (xxhash64(seed=7L, doc_id) mod 1e6, Python floored % matches
    # Spark pmod) and the same floor(rate) + fraction multiplier;
    # rates: src0 2.5x, src1 0.5x, src2 dropped, src3 1.0x, rest 0.25x
    import math
    srcs = dict(con.execute(
        f"SELECT doc_id, source FROM read_parquet('{sf_dir}/documents.parquet') "
        "ORDER BY doc_id").fetchall())
    mix_rates = {"src0": 2.5, "src1": 0.5, "src2": 0.0, "src3": 1.0}
    rows = []
    for i, src in sorted(srcs.items()):
        r = mix_rates.get(src, 0.25)
        u = (spark_xxhash64(7, i) % 1000000) / 1000000.0
        n = int(math.floor(r)) + (1 if u < r - math.floor(r) else 0)
        rows += [(i, src, c) for c in range(1, n + 1)]
    write(con, "expected_mixture",
          'doc_id BIGINT, source VARCHAR, "copy" INTEGER', rows)


if __name__ == "__main__":
    main(sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01")
