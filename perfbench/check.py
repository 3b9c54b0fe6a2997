"""Output checker: compares what the program wrote with the generator's
ground truth.  Runs after timing, in the benchmark's own process, and
reads the parquet outputs with pyarrow (no Spark).

``check(workload, truth, out_dir)`` returns ``(problems, info)``:
``problems`` maps each step to a list of mismatch descriptions (empty
list: the step's outputs are correct); ``info`` holds counts the
benchmark reports, including the evidence row count and digest, which
vary from run to run (Word2Vec training is not reproducible across
partitionings) and are reported, never gated.
"""

from __future__ import annotations

import hashlib
import itertools
import math
import os
from collections import Counter, defaultdict

import pyarrow.parquet as pq

from gen import SEARCH_TERMS, SECTION_RANKS, SCRUB_WINDOW, UNRANKED

EVIDENCE_THRESHOLD = 0.01  # the program's default evidence threshold
EMBEDDING_TYPES = ("DS", "GP", "CD")
TOL = 1e-9


def read(out_dir: str, name: str) -> list[dict]:
    return pq.read_table(os.path.join(out_dir, name)).to_pylist()


def harmonic(values) -> float:
    return sum(v / (i * i) for i, v in enumerate(values, start=1))


def _close(a: float, b: float) -> bool:
    return math.isclose(a, b, rel_tol=TOL, abs_tol=TOL)


def _limit(problems: list[str], name: str, bad: list) -> None:
    if bad:
        problems.append(f"{name}: {len(bad)} mismatches, e.g. {bad[:3]}")


def _keyed(problems: list[str], name: str, rows: list[dict], key, value) -> dict:
    """``rows`` as {key(row): value(row)}; a key seen twice is a mismatch,
    so a duplicated output row cannot hide behind the dict."""
    out, repeated = {}, []
    for r in rows:
        k = key(r)
        if k in out:
            repeated.append(k)
        out[k] = value(r)
    _limit(problems, f"{name} duplicate keys", repeated)
    return out


# ---------------------------------------------------------------------------
# release
# ---------------------------------------------------------------------------


def release_expected(truth) -> dict:
    """Every output the release pipeline must produce, derived from the
    generator's record of what it planted."""
    matches, failed, coocs, failed_coocs = Counter(), 0, Counter(), 0
    blocks = defaultdict(lambda: defaultdict(list))  # (pmid, kw) -> section -> weights
    ranked = defaultdict(Counter)  # pmid -> (type, kw) -> mentions in ranked sections
    ranks_per_pub = defaultdict(set)
    gp_ds_coocs = defaultdict(list)  # (target, disease) -> [(pmid, score)]
    for pub in truth.pubs:
        for s in pub.sentences:
            for m in s.mentions:
                if m.keyword is None:
                    failed += 1
                    continue
                matches[(pub.pmid, s.section, m.type, m.label, m.keyword)] += 1
                blocks[(pub.pmid, m.keyword)][s.section].append(m.type)
                if s.section in SECTION_RANKS and m.type in EMBEDDING_TYPES:
                    ranked[pub.pmid][(m.type, m.keyword)] += 1
                    ranks_per_pub[pub.pmid].add(SECTION_RANKS[s.section][0])
            for a, b, score in s.coocs:
                if a.keyword is None or b.keyword is None:
                    failed_coocs += 1
                    continue
                coocs[(pub.pmid, a.keyword, b.keyword, f"{a.type}-{b.type}")] += 1
                if (a.type, b.type) == ("GP", "DS") and s.text_len < 600:
                    gp_ds_coocs[(a.keyword, b.keyword)].append((pub.pmid, score))

    # literatureIndex relevance: harmonic over the weight blocks of the
    # keyword's best-ranked sections (title counts once); the order of
    # equally ranked blocks is not defined, so every order is accepted
    index = {}
    for key, by_section in blocks.items():
        ranked_blocks = defaultdict(list)
        for section, mentions in by_section.items():
            rank, weight = SECTION_RANKS.get(section, UNRANKED)
            block = [weight] if section == "title" else [weight] * len(mentions)
            ranked_blocks[rank].append(block)
        best = ranked_blocks[min(ranked_blocks)]
        index[key] = {
            round(harmonic([w for b in order for w in b]), 12)
            for order in itertools.permutations(best)
        }

    pairs = {}
    for pmid, kws in ranked.items():
        gps = [(kw, f) for (t, kw), f in kws.items() if t == "GP"]
        dss = [(kw, f) for (t, kw), f in kws.items() if t == "DS"]
        for (g, fg), (d, fd) in itertools.product(gps, dss):
            p = pairs.setdefault((g, d), [0, 0, 0])
            p[0] += 1
            p[1] += fg
            p[2] += fd
    cooc_ev = {
        pair: (
            harmonic(sorted((s / 10.0 for _, s in vals), reverse=True)),
            len({pmid for pmid, _ in vals}),
        )
        for pair, vals in gp_ds_coocs.items()
    }
    vocab = {kw for kws in ranked.values() for _, kw in kws}
    return {
        "matches": matches,
        "failedMatches": failed,
        "cooccurrences": coocs,
        "failedCooccurrences": failed_coocs,
        "literatureIndex": index,
        "trainingSet": sum(len(r) + 1 for r in ranks_per_pub.values()),
        "vocab": vocab,
        "pairs": pairs,
        "cooc_evidence": cooc_ev,
    }


def check_release(truth, out_dir: str) -> tuple[dict, dict]:
    exp = release_expected(truth)
    problems = {s: [] for s in ("processing", "embedding", "vectors", "evidence")}
    info = {}

    p = problems["processing"]
    got = Counter(
        (r["pmid"], r["section"], r["type"], r["label"], r["keywordId"])
        for r in read(out_dir, "matches")
    )
    if got != exp["matches"]:
        _limit(p, "matches", list((got - exp["matches"]) + (exp["matches"] - got)))
    n = len(read(out_dir, "failedMatches"))
    if n != exp["failedMatches"]:
        p.append(f"failedMatches: {n} rows, expected {exp['failedMatches']}")
    got = Counter(
        (r["pmid"], r["keywordId1"], r["keywordId2"], r["type"])
        for r in read(out_dir, "cooccurrences")
    )
    if got != exp["cooccurrences"]:
        _limit(p, "cooccurrences", list((got - exp["cooccurrences"]) + (exp["cooccurrences"] - got)))
    n = len(read(out_dir, "failedCooccurrences"))
    if n != exp["failedCooccurrences"]:
        p.append(f"failedCooccurrences: {n} rows, expected {exp['failedCooccurrences']}")
    rows = read(out_dir, "literatureIndex")
    index = _keyed(
        p, "literatureIndex", rows, lambda r: (str(r["pmid"]), r["keywordId"]),
        lambda r: r["relevance"],
    )
    want = exp["literatureIndex"]
    if len(rows) != len(want):
        p.append(f"literatureIndex: {len(rows)} rows, expected {len(want)}")
    if index.keys() != want.keys():
        _limit(p, "literatureIndex keys", sorted(index.keys() ^ want.keys()))
    _limit(p, "literatureIndex relevance", [
        (k, v) for k, v in index.items()
        if k in want and not any(_close(v, w) for w in want[k])
    ])
    info["index_rows"] = len(rows)

    n = len(read(out_dir, "trainingSet"))
    if n != exp["trainingSet"]:
        problems["embedding"].append(f"trainingSet: {n} rows, expected {exp['trainingSet']}")
    if not os.path.isdir(os.path.join(out_dir, "w2v_model")):
        problems["embedding"].append("w2v_model: not written")

    p = problems["vectors"]
    vecs = read(out_dir, "vectors")
    words = [r["word"] for r in vecs]
    if len(words) != len(exp["vocab"]) or set(words) != exp["vocab"]:
        p.append(f"vectors: {len(words)} words, expected the {len(exp['vocab'])}-word vocabulary")
    _limit(p, "vectors norm", [
        r["word"] for r in vecs
        if not _close(r["norm"], math.sqrt(sum(x * x for x in r["vector"])))
    ])
    category = {"ENSG": "target", "CHEMBL": "drug"}
    _limit(p, "vectors category", [
        r["word"] for r in vecs
        if r["category"] != next((c for k, c in category.items() if r["word"].startswith(k)), "disease")
    ])

    p = problems["evidence"]
    ev = read(out_dir, "evidence")
    keys = [(r["targetFromSourceId"], r["diseaseFromSourceMappedId"]) for r in ev]
    if len(set(keys)) != len(keys):
        p.append("evidence: duplicate (target, disease) pairs")
    bad = []
    for key, r in zip(keys, ev):
        want = exp["pairs"].get(key)
        if want is None:
            bad.append(("unexpected pair", key))
            continue
        shared, sum_t, sum_d = want
        cooc_h, cooc_n = exp["cooc_evidence"].get(key, (0.0, 0))
        sim = r["similarity"]
        ok = (
            r["sharedPublicationCount"] == shared
            and _close(r["meanTargetFreqPerPub"], sum_t / shared)
            and _close(r["meanDiseaseFreqPerPub"], sum_d / shared)
            and EVIDENCE_THRESHOLD < sim <= 1.0 + TOL
            and _close(r["harmonicSimilarity"], sim * harmonic([1.0] * shared))
            and r["resourceScore"] == r["harmonicSimilarity"]
            and _close(r["harmonicCooccurrenceSentiment"], cooc_h)
            and r["cooccurredPublicationCount"] == cooc_n
            and r["datasourceId"] == "ew2v"
            and r["datatypeId"] == "literature"
        )
        if not ok:
            bad.append((key, r))
    _limit(p, "evidence rows", bad)
    info["evidence_rows"] = len(ev)
    info["evidence_pairs_possible"] = len(exp["pairs"])
    info["evidence_digest"] = hashlib.sha1(
        repr(sorted((k, round(r["similarity"], 6)) for k, r in zip(keys, ev))).encode()
    ).hexdigest()[:12]
    info["vocab_size"] = len(words)
    return problems, info


# ---------------------------------------------------------------------------
# curation
# ---------------------------------------------------------------------------


def scrub_expected(docs: dict[int, str]) -> dict[int, tuple[str, int, int]]:
    """First corpus-wide occurrence of each SCRUB_WINDOW-token passage,
    ordered by (doc id, position), survives; later copies go."""
    seen, out = set(), {}
    for i in sorted(docs):
        toks = [t for t in docs[i].split(" ") if t]
        passages = [
            " ".join(toks[k:k + SCRUB_WINDOW]) for k in range(0, len(toks), SCRUB_WINDOW)
        ]
        kept = []
        for ps in passages:
            if ps not in seen:
                seen.add(ps)
                kept.append(ps)
        out[i] = (" ".join(kept), len(passages), len(kept))
    return out


def check_curation(truth, out_dir: str) -> tuple[dict, dict]:
    problems = {s: [] for s in ("scrub", "curate", "cluster", "search")}
    info = {}
    ids = set(truth.docs)

    want = scrub_expected(truth.docs)
    rows = read(out_dir, "scrubbed")
    got = _keyed(
        problems["scrub"], "scrubbed", rows, lambda r: r["doc_id"],
        lambda r: (r["text_scrubbed"] or "", r["n_passages"], r["n_kept"]),
    )
    if len(rows) != len(want) or got.keys() != want.keys():
        problems["scrub"].append(f"scrubbed: {len(rows)} rows, expected {len(want)}")
    _limit(problems["scrub"], "scrubbed", [i for i in want if got.get(i) != want[i]])
    info["passages_dropped"] = sum(g[1] - g[2] for g in got.values())

    p = problems["curate"]
    report = [r["doc_id"] for r in read(out_dir, "curation_report")]
    if sorted(report) != sorted(ids):
        p.append(f"curation_report: {len(report)} rows for {len(ids)} docs")
    curated = [r["doc_id"] for r in read(out_dir, "curated")]
    if len(set(curated)) != len(curated) or not set(curated) <= ids:
        p.append("curated: duplicate or unknown doc ids")
    kept = set(curated)
    _limit(p, "curated keeps a planted duplicate", [c for _, c in truth.exact_dups if c in kept])
    _limit(p, "curated keeps a foreign-language doc", sorted(truth.foreign & kept))
    info["curated"] = len(kept)
    info["kept_share"] = len(kept) / len(ids)

    p = problems["cluster"]
    rows = read(out_dir, "survivors")
    surv = _keyed(
        p, "survivors", rows, lambda r: r["doc_id"], lambda r: (r["component"], r["is_survivor"]),
    )
    if len(rows) != len(ids) or surv.keys() != ids:
        p.append(f"survivors: {len(rows)} rows for {len(ids)} docs")
    groups = truth.near_groups + [list(d) for d in truth.exact_dups]
    _limit(p, "planted near-duplicate group split", [
        g for g in groups if len({surv.get(i, (None,))[0] for i in g}) != 1
    ])
    clusters = read(out_dir, "clusters")
    _limit(p, "clusters disagree with survivors", [
        c["component"] for c in clusters
        if any(surv.get(i, (None,))[0] != c["component"] for i in c["member_ids"])
        or c["cluster_size"] != len(c["member_ids"])
    ])
    info["clusters"] = len(clusters)

    hits = read(out_dir, "search")
    got_hits = {r["doc_id"] for r in hits}
    if got_hits != truth.search_hits:
        problems["search"].append(
            f"search: hits {sorted(got_hits)}, planted {sorted(truth.search_hits)} for {SEARCH_TERMS}"
        )
    info["search_hits"] = len(hits)
    return problems, info


def check(workload: str, truth, out_dir: str) -> tuple[dict, dict]:
    if workload == "release":
        return check_release(truth, out_dir)
    return check_curation(truth, out_dir)
