"""Tests for the benchmark's own code: generator determinism, the output
checker, and the event-log parser on a tiny traced run.

Run from the root of a checkout:  python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import shutil
import sys
import time

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import check  # noqa: E402
import eventlog  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402

TINY_RELEASE = dict(
    n_pubs=60, n_hubs=2, n_targets=40, n_diseases=40, n_drugs=10,
    hub_sentences=12, n_json_files=2,
)
TINY_CURATION = dict(
    n_docs=120, vocab=800, n_exact_dups=6, n_near_groups=4, n_passages=3,
    passage_copies=3, n_foreign=8, n_search_hits=4, n_files=2,
)


def _files(root: str) -> dict[str, bytes]:
    out = {}
    for d, _, fs in os.walk(root):
        for f in fs:
            path = os.path.join(d, f)
            with open(path, "rb") as fh:
                out[os.path.relpath(path, root)] = fh.read()
    return out


@pytest.mark.parametrize("workload,shape", [
    ("release", TINY_RELEASE), ("curation", TINY_CURATION),
])
def test_generator_is_a_function_of_the_seed(tmp_path, workload, shape):
    a = gen.generate(workload, str(tmp_path / "a"), 7, shape)
    b = gen.generate(workload, str(tmp_path / "b"), 7, shape)
    c = gen.generate(workload, str(tmp_path / "c"), 8, shape)
    assert _files(str(tmp_path / "a")) == _files(str(tmp_path / "b"))
    assert a == b
    assert _files(str(tmp_path / "a")) != _files(str(tmp_path / "c"))


def test_generated_words_are_distinct_and_stem_free():
    from platform_etl_literature_spark.functions.porter import stem

    words = {gen.word(i) for i in range(0, 36**4, 997)}
    assert len(words) == len(range(0, 36**4, 997))
    assert all(stem(w) == w for w in words)


def _write(path: str, rows: list[dict]) -> None:
    os.makedirs(path)
    pq.write_table(pa.Table.from_pylist(rows), os.path.join(path, "part-00000.parquet"))


def _curation_outputs(truth, out: str) -> None:
    """What a correct curation pass writes, built from the truth."""
    scrub = check.scrub_expected(truth.docs)
    _write(f"{out}/scrubbed", [
        {"doc_id": i, "text_scrubbed": t, "n_passages": n, "n_kept": k}
        for i, (t, n, k) in scrub.items()
    ])
    _write(f"{out}/curation_report", [{"doc_id": i} for i in truth.docs])
    dropped = {c for _, c in truth.exact_dups} | truth.foreign
    _write(f"{out}/curated", [{"doc_id": i} for i in truth.docs if i not in dropped])
    comp = {i: i for i in truth.docs}
    for group in truth.near_groups + [list(p) for p in truth.exact_dups]:
        for i in group:
            comp[i] = min(comp[j] for j in group)
    _write(f"{out}/survivors", [
        {"doc_id": i, "component": c, "is_survivor": i == c} for i, c in comp.items()
    ])
    members: dict[int, list[int]] = {}
    for i, c in comp.items():
        members.setdefault(c, []).append(i)
    _write(f"{out}/clusters", [
        {"component": c, "cluster_size": len(m), "member_ids": sorted(m)}
        for c, m in members.items() if len(m) > 1
    ])
    _write(f"{out}/search", [{"doc_id": i} for i in sorted(truth.search_hits)])


def test_checker_accepts_correct_and_rejects_corrupted_curation(tmp_path):
    truth = gen.generate("curation", str(tmp_path / "in"), 3, TINY_CURATION)
    good = str(tmp_path / "good")
    _curation_outputs(truth, good)
    problems, _ = check.check("curation", truth, good)
    assert not any(problems.values()), problems

    bad = str(tmp_path / "bad")
    orig, copy = truth.exact_dups[0]
    truth.search_hits.add(orig)  # a planted hit the output lacks
    _curation_outputs(truth, bad)
    truth.search_hits.discard(orig)
    os.remove(f"{bad}/curated/part-00000.parquet")
    _write(f"{bad}/curated_tmp", [{"doc_id": orig}, {"doc_id": copy}])
    os.replace(f"{bad}/curated_tmp/part-00000.parquet", f"{bad}/curated/part-00000.parquet")
    problems, _ = check.check("curation", truth, bad)
    assert problems["curate"] and problems["search"]
    assert not problems["scrub"] and not problems["cluster"]

    dup = str(tmp_path / "dup")
    _curation_outputs(truth, dup)
    for name in ("scrubbed", "survivors"):
        _duplicate_first_row(f"{dup}/{name}")
    problems, _ = check.check("curation", truth, dup)
    assert problems["scrub"] and problems["cluster"]
    assert not problems["curate"] and not problems["search"]


def _duplicate_first_row(path: str) -> None:
    """Rewrite the output table at ``path`` with its first row twice."""
    table = pq.read_table(path)
    shutil.rmtree(path)
    os.makedirs(path)
    pq.write_table(pa.concat_tables([table, table.slice(0, 1)]), f"{path}/part-0.parquet")


@pytest.fixture(scope="module")
def tiny_traced_release(tmp_path_factory):
    """One traced pass of the real program over a tiny release corpus."""
    work = str(tmp_path_factory.mktemp("work"))
    for d in ("local", "eventlog"):
        os.makedirs(os.path.join(work, d))
    truth = gen.generate("release", os.path.join(work, "inputs"), 5, TINY_RELEASE)
    out = os.path.join(work, "out")
    spec = {
        "workload": "release",
        "trace": 1,
        "config": run.program_config("release", os.path.join(work, "inputs"), out),
        "eventlog_dir": os.path.join(work, "eventlog"),
    }
    result, peak_kb = run.run_worker(spec, work, "tiny", time.monotonic() + 600)
    return truth, out, result, peak_kb, os.path.join(work, "eventlog")


def test_tiny_release_passes_the_check(tiny_traced_release):
    truth, out, result, peak_kb, _ = tiny_traced_release
    assert result["error"] is None
    problems, info = check.check("release", truth, out)
    assert not any(problems.values()), problems
    assert info["evidence_rows"] <= info["evidence_pairs_possible"]
    assert peak_kb > 0


def test_checker_rejects_corrupted_release(tiny_traced_release, tmp_path):
    truth, out, *_ = tiny_traced_release
    bad = str(tmp_path / "out")
    shutil.copytree(out, bad)
    index = pq.read_table(f"{bad}/literatureIndex")
    rows = index.to_pylist()
    rows[0]["relevance"] += 0.5
    shutil.rmtree(f"{bad}/literatureIndex")
    os.makedirs(f"{bad}/literatureIndex")
    pq.write_table(pa.Table.from_pylist(rows, index.schema), f"{bad}/literatureIndex/part-0.parquet")
    matches = pq.read_table(f"{bad}/matches")
    shutil.rmtree(f"{bad}/matches")
    os.makedirs(f"{bad}/matches")
    pq.write_table(matches.slice(1), f"{bad}/matches/part-0.parquet")
    problems, _ = check.check("release", truth, bad)
    assert len(problems["processing"]) == 2, problems["processing"]
    assert not problems["evidence"] and not problems["vectors"]

    # a repeated literatureIndex row: same key set and relevances, one row too many
    dup = str(tmp_path / "dup")
    shutil.copytree(out, dup)
    _duplicate_first_row(f"{dup}/literatureIndex")
    problems, _ = check.check("release", truth, dup)
    assert len(problems["processing"]) == 2, problems["processing"]
    assert all("literatureIndex" in p for p in problems["processing"])


def stemmed_rows(truth, shape: dict) -> int:
    """Rows the Porter-stemmer UDF must see in one traced release pass:
    every entity-LUT variant (a disease's name and three synonyms; a
    target's name, symbol, two synonyms, obsolete symbol and protein id;
    a drug's name, trade name and synonym under both key types), then
    every distinct (type, label) of a kept publication under its key
    types (one for DS, two for GP and CD)."""
    lut = 4 * shape["n_diseases"] + 6 * shape["n_targets"] + 6 * shape["n_drugs"]
    labels = {(m.type, m.label) for p in truth.pubs for s in p.sentences for m in s.mentions}
    return lut + sum(1 if t == "DS" else 2 for t, _ in labels)


def test_event_log_parser_on_a_tiny_run(tiny_traced_release):
    truth, _, result, _, evdir = tiny_traced_release
    summary = eventlog.summarise(evdir, result["steps"])
    for step in ("processing", "embedding", "vectors", "evidence"):
        s = summary["steps"][step]
        assert s["jobs"] > 0 and s["tasks"] > 0 and s["task_s"] > 0
        assert 0 <= s["driver_s"] <= result["steps"][step]["s"] + 1e-6
        assert s["task_skew"] >= 1.0
    assert summary["python"]["stem_udf_rows"] == stemmed_rows(truth, TINY_RELEASE)
    assert summary["python"]["stem_udf_s"] > 0
    metrics = run.layer_metrics("release", result, {}, summary)
    assert metrics["grounding.entity_lut_rows"] > 0
    assert metrics["grounding.mapped_share"] > 0.5
    assert metrics["evidence.pairs_kept"] <= metrics["evidence.pairs_considered"]
