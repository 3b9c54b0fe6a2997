"""Seeded input generator for the literature-pipeline benchmark.

One call writes a workload's inputs under a directory and returns the
generator's own ground truth (what every output row must be), which
``check.py`` compares the program's outputs against.  Same workload and
seed -> byte-identical files and identical truth.

Vocabulary design: every entity owns words nobody else uses, each word
is exactly four consonant-vowel syllables over vowels ``a o u``.  No
Porter rule fires on such a word and no stopword matches it, and a
fixed word length keeps concatenated grounding keys unique, so every
planted label grounds to exactly one entity and the truth needs no copy
of the normaliser.
"""

from __future__ import annotations

import bisect
import csv
import gzip
import io
import json
import os
import random
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq

CONSONANTS = "bdfgkmnprtvz"
VOWELS = "aou"
SYLLABLES = [c + v for c in CONSONANTS for v in VOWELS]

# section -> (rank, weight): the program's default section ranks
SECTION_RANKS = {
    "title": (1, 1.0),
    "abstract": (1, 0.8),
    "concl": (1, 0.7),
    "results": (2, 0.6),
    "discuss": (2, 0.5),
    "methods": (3, 0.3),
    "other": (4, 0.1),
}
UNRANKED = (100, 0.01)  # literatureIndex fill for sections outside the table
BODY_SECTIONS = ["abstract", "results", "discuss", "methods", "concl", "other", "intro"]
FILLER = (
    "we observed that the expression of in patients with was associated "
    "increased reduced levels cohort analysis showed treatment response "
    "significant model data suggest role pathway signalling"
).split()

# release workload shape.  The density follows a 20k-publication,
# 800k-mention, 8k-entity Europe PMC-shaped corpus: about 10 sentences,
# 40 mentions and 0.4 entities per publication.  Only the publication
# count is scaled down.  The Zipf exponent of entity popularity, the
# 4:4:1 target:disease:drug split and the share of PMIDs in the id
# lookup are assumed, not measured.
RELEASE_PUBS = 300
ENTITIES_PER_PUB = 0.4
RELEASE = dict(
    n_pubs=RELEASE_PUBS,
    n_hubs=3,  # hub publications: long, dense DS/GP mentions (DS x GP pairing skew)
    n_targets=round(RELEASE_PUBS * ENTITIES_PER_PUB * 4 / 9),
    n_diseases=round(RELEASE_PUBS * ENTITIES_PER_PUB * 4 / 9),
    n_drugs=round(RELEASE_PUBS * ENTITIES_PER_PUB / 9),
    sentences=10,
    max_mentions=(3, 3, 2),  # GP, DS, CD per sentence, uniform from 0: 4 on average
    hub_sentences=40,
    hub_max_mentions=(6, 6, 2),
    zipf_s=1.1,
    n_json_files=8,
)
# broken-row shares (of ordinary publications)
SHARE_PMID_ZERO = 0.02  # pmid "0", no pmcid: dropped
SHARE_PMID_MISSING = 0.03  # no pmid, pmcid known to the id lookup: repaired
SHARE_ANTI_JOIN = 0.01  # pmid known to the lookup but pmcid missing: dropped
SHARE_NON_ASCII = 0.03  # one non-ASCII sentence: kept (diagnostic flag only)
SHARE_UNGROUNDABLE = 0.05  # one label no entity owns: failedMatches
SHARE_LONG_SENTENCE = 0.03  # >= 600 chars: excluded from co-occurrence evidence
SHARE_ID_LOOKUP = 0.5  # well-formed publications also listed in the PMID/PMCID csv

# curation workload shape
CURATION = dict(
    n_docs=600,
    vocab=3000,
    n_exact_dups=40,
    n_near_groups=20,
    near_group_size=3,
    n_passages=10,
    passage_copies=4,
    n_foreign=50,
    n_search_hits=8,
    n_files=4,
)
SEARCH_TERMS = ["qwixotic", "zephyrine"]
SEARCH_K = 10
SCRUB_WINDOW = 16
STOP_EN = ["the", "a", "of", "and", "is", "in", "to", "or", "an"]
STOP_DE = ["der", "die", "das", "und", "ist"]
STOP_FR = ["le", "la", "et", "est", "un"]


def word(i: int) -> str:
    """The i-th 8-letter CV word (i < 36**4)."""
    out = []
    for _ in range(4):
        i, r = divmod(i, len(SYLLABLES))
        out.append(SYLLABLES[r])
    return "".join(out)


class WordPool:
    """Hands out distinct words in a seed-dependent order."""

    def __init__(self, rng: random.Random, n: int):
        self._ids = rng.sample(range(len(SYLLABLES) ** 4), n)
        self._next = 0

    def take(self) -> str:
        w = word(self._ids[self._next])
        self._next += 1
        return w


@dataclass
class Mention:
    type: str
    label: str
    keyword: str | None  # None: no entity owns the label


@dataclass
class Sentence:
    section: str
    text_len: int
    mentions: list[Mention]
    coocs: list[tuple[Mention, Mention, float]]


@dataclass
class Publication:
    pmid: str  # the pmid the pipeline must end up with
    sentences: list[Sentence]


@dataclass
class ReleaseTruth:
    pubs: list[Publication]  # kept publications only
    dropped: int
    sizes: dict = field(default_factory=dict)


@dataclass
class CurationTruth:
    docs: dict[int, str]  # doc_id -> text
    exact_dups: list[tuple[int, int]]  # (original id, copy id)
    near_groups: list[list[int]]
    foreign: set[int]
    search_hits: set[int]
    sizes: dict = field(default_factory=dict)


def _zipf_cum(n: int, s: float) -> list[float]:
    acc, out = 0.0, []
    for r in range(1, n + 1):
        acc += 1.0 / r**s
        out.append(acc)
    return out


def _pick(rng: random.Random, items: list, cum: list[float]):
    return items[bisect.bisect_left(cum, rng.random() * cum[-1])]


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, fs in os.walk(path)
        for f in fs
    )


def _cap(w: str) -> str:
    return w[:1].upper() + w[1:]


def _entities(rng: random.Random, shape: dict):
    """Entity tables (as parquet-ready column dicts) plus, per type, the
    list of (keywordId, [mention labels]) the corpus draws from."""
    pool = WordPool(
        rng, shape["n_targets"] * 7 + shape["n_diseases"] * 8 + shape["n_drugs"] * 3
    )
    targets = {k: [] for k in (
        "id", "approvedName", "approvedSymbol", "symbolSynonyms", "nameSynonyms",
        "obsoleteSymbols", "obsoleteNames", "proteinIds")}
    gp = []
    for i in range(shape["n_targets"]):
        tid = f"ENSG{i + 1:011d}"
        name = f"{_cap(pool.take())} {pool.take()}"
        symbol = pool.take().upper() + str(i % 10)
        syn_name = f"{pool.take()} {pool.take()}"
        syn_symbol = pool.take().upper()
        obsolete = pool.take().upper()
        targets["id"].append(tid)
        targets["approvedName"].append(name)
        targets["approvedSymbol"].append(symbol)
        targets["symbolSynonyms"].append([{"label": syn_symbol}])
        targets["nameSynonyms"].append([{"label": syn_name}])
        targets["obsoleteSymbols"].append([{"label": obsolete}])
        targets["obsoleteNames"].append([])
        targets["proteinIds"].append([{"id": f"P{i + 1:05d}"}])
        gp.append((tid, [symbol, symbol, name, syn_symbol, syn_name.upper()]))
    diseases = {"id": [], "name": [], "synonyms": []}
    ds = []
    for i in range(shape["n_diseases"]):
        did = f"EFO_{i + 1:07d}" if i % 4 else f"MONDO_{i + 1:07d}"
        name = f"{_cap(pool.take())} {pool.take()}"
        exact = f"{pool.take()} {pool.take()}"
        related = f"{pool.take()} {pool.take()}"
        broad = f"{pool.take()} {pool.take()}"
        diseases["id"].append(did)
        diseases["name"].append(name)
        diseases["synonyms"].append({
            "hasExactSynonym": [exact], "hasNarrowSynonym": [],
            "hasBroadSynonym": [broad], "hasRelatedSynonym": [related],
        })
        ds.append((did, [name, name.lower(), exact, _cap(related)]))
    drugs = {"id": [], "name": [], "tradeNames": [], "synonyms": []}
    cd = []
    for i in range(shape["n_drugs"]):
        cid = f"CHEMBL{i + 1}"
        name, trade, syn = pool.take().upper(), _cap(pool.take()), pool.take()
        drugs["id"].append(cid)
        drugs["name"].append(name)
        drugs["tradeNames"].append([trade])
        drugs["synonyms"].append([syn])
        cd.append((cid, [name, name.lower(), trade, syn]))
    return targets, diseases, drugs, {"GP": gp, "DS": ds, "CD": cd}


_LABEL_T = pa.list_(pa.struct([("label", pa.string())]))
TARGETS_SCHEMA = pa.schema([
    ("id", pa.string()), ("approvedName", pa.string()), ("approvedSymbol", pa.string()),
    ("symbolSynonyms", _LABEL_T), ("nameSynonyms", _LABEL_T),
    ("obsoleteSymbols", _LABEL_T), ("obsoleteNames", _LABEL_T),
    ("proteinIds", pa.list_(pa.struct([("id", pa.string())]))),
])
DISEASES_SCHEMA = pa.schema([
    ("id", pa.string()), ("name", pa.string()),
    ("synonyms", pa.struct([(k, pa.list_(pa.string())) for k in (
        "hasExactSynonym", "hasNarrowSynonym", "hasBroadSynonym", "hasRelatedSynonym")])),
])
DRUGS_SCHEMA = pa.schema([
    ("id", pa.string()), ("name", pa.string()),
    ("tradeNames", pa.list_(pa.string())), ("synonyms", pa.list_(pa.string())),
])


def _sentence(rng, section, picks, ungroundable, non_ascii, long_text):
    """One EPMC sentence record plus its truth."""
    words = [rng.choice(FILLER) for _ in range(rng.randint(6, 14))]
    mentions, matches = [], []
    for type_, (kw, labels) in picks:
        label = rng.choice(labels)
        mentions.append(Mention(type_, label, kw))
    if ungroundable:
        mentions.append(Mention("GP", "XQ" + str(rng.randint(100, 999)) + "Z", None))
    for m in mentions:
        words.insert(rng.randint(0, len(words)), m.label)
    text = " ".join(words)
    if non_ascii:
        text = "Überexpression of α-" + text
    if long_text:
        text = text + " " + " ".join(rng.choice(FILLER) for _ in range(120))
    for m in mentions:
        start = max(text.find(m.label), 0)
        end = start + len(m.label)
        matches.append({
            "label": m.label, "type": m.type, "startInSentence": start,
            "endInSentence": end, "sectionStart": start, "sectionEnd": end,
        })
    coocs, cooc_recs = [], []
    for a in mentions:
        for b in mentions:
            if (a.type, b.type) in (("GP", "DS"), ("CD", "DS")):
                score = round(rng.uniform(0.5, 10.0), 2)
                coocs.append((a, b, score))
                cooc_recs.append({
                    "label1": a.label, "start1": 0, "end1": len(a.label),
                    "label2": b.label, "start2": 1, "end2": 1 + len(b.label),
                    "type": f"{a.type}-{b.type}", "sentEvidenceScore": score,
                    "association": None, "relation": None,
                })
    rec = {"section": section, "text": text, "matches": matches, "co-occurrence": cooc_recs}
    return rec, Sentence(section.lower(), len(text), mentions, coocs)


def generate_release(out: str, seed: int, shape: dict | None = None) -> ReleaseTruth:
    """EPMC JSON + PMID/PMCID csv.gz + entity parquet under ``out``."""
    shape = dict(RELEASE, **(shape or {}))
    rng = random.Random(f"release/{seed}")
    targets, diseases, drugs, by_type = _entities(rng, shape)
    cum = {t: _zipf_cum(len(v), shape["zipf_s"]) for t, v in by_type.items()}
    os.makedirs(f"{out}/epmc")
    pq.write_table(pa.Table.from_pydict(targets, TARGETS_SCHEMA), f"{out}/targets.parquet")
    pq.write_table(pa.Table.from_pydict(diseases, DISEASES_SCHEMA), f"{out}/diseases.parquet")
    pq.write_table(pa.Table.from_pydict(drugs, DRUGS_SCHEMA), f"{out}/drugs.parquet")

    def picks(n_gp, n_ds, n_cd):
        return [
            (t, _pick(rng, by_type[t], cum[t]))
            for t, n in (("GP", n_gp), ("DS", n_ds), ("CD", n_cd))
            for _ in range(n)
        ]

    kept, dropped, id_rows = [], 0, []
    files = [[] for _ in range(shape["n_json_files"])]
    n_pubs = shape["n_pubs"]
    for p in range(n_pubs):
        hub = p < shape["n_hubs"]
        pmid = str(30_000_000 + p * 7 + rng.randint(0, 6))
        pmcid = f"PMC{9_000_000 + p}"
        r = rng.random()
        broken = None if hub else (
            "zero" if r < SHARE_PMID_ZERO
            else "missing" if r < SHARE_PMID_ZERO + SHARE_PMID_MISSING
            else "anti" if r < SHARE_PMID_ZERO + SHARE_PMID_MISSING + SHARE_ANTI_JOIN
            else None
        )
        n_sent = shape["hub_sentences"] if hub else shape["sentences"]
        non_ascii_at = rng.randrange(n_sent) if rng.random() < SHARE_NON_ASCII else -1
        ungroundable_at = rng.randrange(n_sent) if rng.random() < SHARE_UNGROUNDABLE else -1
        recs, sents = [], []
        for s in range(n_sent):
            section = "title" if s == 0 else rng.choice(BODY_SECTIONS)
            if rng.random() < 0.3:
                section = section.upper() if s else "Title"
            pk = picks(*(rng.randint(0, k) for k in (
                shape["hub_max_mentions"] if hub else shape["max_mentions"])))
            rec, sent = _sentence(
                rng, section, pk, s == ungroundable_at, s == non_ascii_at,
                rng.random() < SHARE_LONG_SENTENCE,
            )
            recs.append(rec)
            sents.append(sent)
        row = {
            "pmid": pmid, "pmcid": pmcid,
            "pubDate": f"{2000 + p % 24}-{1 + p % 12:02d}-{1 + p % 28:02d}",
            "organisms": ["Homo sapiens"] if p % 3 else [], "sentences": recs,
        }
        if broken == "zero":
            row["pmid"], row["pmcid"] = "0", None
            dropped += 1
        elif broken == "missing":
            del row["pmid"]
            id_rows.append((pmid, pmcid))
            kept.append(Publication(pmid, sents))
        elif broken == "anti":
            row["pmcid"] = None
            id_rows.append((pmid, pmcid))
            dropped += 1
        else:
            if rng.random() < SHARE_ID_LOOKUP:
                id_rows.append((pmid, pmcid))
            kept.append(Publication(pmid, sents))
        files[p % len(files)].append(json.dumps(row, ensure_ascii=False))
    for i, lines in enumerate(files):
        with open(f"{out}/epmc/part-{i:05d}.json", "w", encoding="utf-8") as fh:
            fh.write("\n".join(lines) + "\n")
    os.makedirs(f"{out}/epmcids")
    buf = io.StringIO()
    w = csv.writer(buf)
    w.writerow(["PMID", "PMCID", "DOI"])
    for pmid, pmcid in id_rows:
        w.writerow([pmid, pmcid, f"10.1000/{pmid}"])
    with open(f"{out}/epmcids/ids.csv.gz", "wb") as fh:
        fh.write(gzip.compress(buf.getvalue().encode(), mtime=0))

    all_sents = [s for p in kept for s in p.sentences]
    mentions = [m for s in all_sents for m in s.mentions]
    sizes = {
        "publications": n_pubs,
        "kept_publications": len(kept),
        "sentences": len(all_sents),
        "mentions": len(mentions),
        "distinct_labels": len({(m.type, m.label) for m in mentions}),
        "entity_rows": shape["n_targets"] + shape["n_diseases"] + shape["n_drugs"],
        "input_bytes": dir_bytes(out),
    }
    return ReleaseTruth(kept, dropped, sizes)


def _text(rng: random.Random, vocab: list[str], stops: list[str], n: int) -> list[str]:
    return [rng.choice(stops) if rng.random() < 0.3 else rng.choice(vocab) for _ in range(n)]


def generate_curation(out: str, seed: int, shape: dict | None = None) -> CurationTruth:
    """A ``documents`` parquet (doc_id, text, lang) with planted exact
    duplicates, near-duplicate groups, repeated passages, a language mix
    and a handful of documents holding the search terms."""
    shape = dict(CURATION, **(shape or {}))
    rng = random.Random(f"curation/{seed}")
    pool = WordPool(rng, shape["vocab"] + shape["n_passages"] * SCRUB_WINDOW)
    vocab = [pool.take() for _ in range(shape["vocab"])]
    passages = [[pool.take() for _ in range(SCRUB_WINDOW)] for _ in range(shape["n_passages"])]
    n = shape["n_docs"]
    docs: dict[int, list[str]] = {}
    lang: dict[int, str] = {}
    for i in range(1, n + 1):
        docs[i] = _text(rng, vocab, STOP_EN, rng.randint(6, 10) * SCRUB_WINDOW)
        lang[i] = "en"
    ids = list(range(1, n + 1))
    rng.shuffle(ids)
    cursor = 0

    def take(k: int) -> list[int]:
        nonlocal cursor
        cursor += k
        return ids[cursor - k:cursor]

    foreign = set()
    for i in take(shape["n_foreign"]):
        stops, code = (STOP_DE, "de") if i % 2 else (STOP_FR, "fr")
        docs[i] = _text(rng, vocab, stops, len(docs[i]))
        lang[i] = code
        foreign.add(i)
    for p, holders in enumerate(
        take(shape["n_passages"] * shape["passage_copies"])[k::shape["n_passages"]]
        for k in range(shape["n_passages"])
    ):
        for i in holders:
            docs[i][:SCRUB_WINDOW] = passages[p]
    hits = set(take(shape["n_search_hits"]))
    for i in hits:
        pos = rng.randrange(len(docs[i]))
        docs[i][pos] = SEARCH_TERMS[i % 2]
    near_groups = []
    for base in take(shape["n_near_groups"]):
        group = [base]
        for _ in range(shape["near_group_size"] - 1):
            nid = max(docs) + 1
            toks = list(docs[base])
            toks[rng.randrange(SCRUB_WINDOW, len(toks))] = rng.choice(vocab)
            docs[nid], lang[nid] = toks, lang[base]
            group.append(nid)
        near_groups.append(group)
    exact = []
    for orig in take(shape["n_exact_dups"]):
        nid = max(docs) + 1
        docs[nid], lang[nid] = list(docs[orig]), lang[orig]
        exact.append((orig, nid))
    texts = {i: " ".join(t) for i, t in docs.items()}
    order = sorted(texts)
    rng.shuffle(order)
    os.makedirs(f"{out}/documents")
    k = shape["n_files"]
    for f in range(k):
        part = order[f::k]
        pq.write_table(
            pa.table({
                "doc_id": pa.array(part, pa.int64()),
                "text": [texts[i] for i in part],
                "lang": [lang[i] for i in part],
            }),
            f"{out}/documents/part-{f:05d}.parquet",
        )
    sizes = {
        "documents": len(texts),
        "tokens": sum(len(t) for t in docs.values()),
        "exact_dups": len(exact),
        "near_groups": len(near_groups),
        "foreign": len(foreign),
        "input_bytes": dir_bytes(out),
    }
    return CurationTruth(texts, exact, near_groups, foreign, hits, sizes)


def generate(workload: str, out: str, seed: int, shape: dict | None = None):
    if workload == "release":
        return generate_release(out, seed, shape)
    if workload == "curation":
        return generate_curation(out, seed, shape)
    raise ValueError(f"unknown workload {workload!r}")
