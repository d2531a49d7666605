"""The input generator: seeded, byte-reproducible, and shaped as each
workload promises."""

import hashlib
import json
import os
from collections import Counter

import pytest

import gen
from conftest import ROOT

TOY = {"bulk_turns": 400, "open_vocab": 80}


def _file_hashes(d):
    out = {}
    for dirpath, _dirs, files in os.walk(d):
        for f in files:
            p = os.path.join(dirpath, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, d)] = hashlib.sha256(fh.read()).hexdigest()
    return out


@pytest.mark.parametrize("workload", sorted(gen.WORKLOADS))
def test_same_seed_gives_identical_bytes(tmp_path, workload):
    for i in range(2):
        gen.write(gen.generate(workload, 7, TOY[workload]), str(tmp_path / f"a{i}"))
    gen.write(gen.generate(workload, 8, TOY[workload]), str(tmp_path / "b"))
    a0, a1, b = (_file_hashes(str(tmp_path / n)) for n in ("a0", "a1", "b"))
    assert a0 == a1
    assert a0 != b


def test_benchmark_json_lists_every_workload_with_its_reason():
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        spec = json.load(f)
    assert {w["name"]: w["why"] for w in spec["workloads"]} == {
        name: w.why for name, w in gen.WORKLOADS.items()
    }


def test_open_vocab_variants_miss_the_dictionary_and_are_planted():
    inputs = gen.generate("open_vocab", 3, 800)
    aliases = {a[0] for a in inputs.alias}
    phrases = {g[0] for g in inputs.gazetteer}
    assert len(inputs.truth) == len(aliases) // 4
    assert not set(inputs.truth) & aliases
    assert set(inputs.truth) <= phrases
    text = "\n".join(r[3] for r in inputs.rows())
    assert all(v in text for v in inputs.truth)


def test_bulk_turns_shape():
    inputs = gen.generate("bulk_turns", 3, 2000)
    rows = inputs.rows()
    lens = sorted(Counter(r[0] for r in rows).values())
    assert lens[-1] >= 50 * lens[len(lens) // 2]  # hot conversations
    # some turns run past the 510-subword truncation budget
    assert any(len(r[3].split()) > 600 for r in rows)
    assert inputs.n_files >= len(os.sched_getaffinity(0))
    assert not inputs.truth
    # turn_idx is dense from 0 within each conversation
    by_conv = {}
    for conv, turn, _role, _text in rows:
        by_conv.setdefault(conv, []).append(turn)
    assert all(sorted(t) == list(range(len(t))) for t in by_conv.values())
