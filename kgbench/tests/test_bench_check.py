"""The output check: a real build passes, a corrupted copy is caught."""

import glob
import os
import shutil

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

import check
import gen
from harness import NPROC, Job, Ops, check_roots


def _rewrite_first_file(table_dir, edit):
    path = sorted(glob.glob(os.path.join(table_dir, "**", "*.parquet"), recursive=True))[0]
    pq.write_table(edit(pq.read_table(path)), path)


def test_corrupted_output_is_caught(spark, tmp_path):
    inputs = gen.generate("open_vocab", 5, 40)
    gen.write(inputs, str(tmp_path / "in"))
    job = Job(spark, str(tmp_path / "in"))
    ops = Ops(job, str(tmp_path / "out"))
    assert ops.run("build") is not None and ops.run("resume") is not None
    digests, bad = check_roots(job, inputs, ops.roots)
    assert bad == 0 and digests[0] == digests[1]

    dropped = str(tmp_path / "dropped_edge")
    shutil.copytree(ops.roots[0], dropped)
    _rewrite_first_file(os.path.join(dropped, "edges"), lambda t: t.slice(1))
    shifted = str(tmp_path / "shifted_mention")
    shutil.copytree(ops.roots[0], shifted)

    def shift(t):
        i = t.schema.get_field_index("start_tok")
        return t.set_column(i, t.field(i), pc.add(t.column(i), pa.scalar(1, t.field(i).type)))

    _rewrite_first_file(os.path.join(shifted, "mentions"), shift)

    want = check.oracle_digests(inputs.rows(), job.cfg.gazetteer, job.cfg.alias_rows)
    assert check.mismatches(check.root_digests(dropped), want, digests[0]) == ["edges"]
    assert check.mismatches(check.root_digests(shifted), want, digests[0]) == ["mentions"]
    _, bad = check_roots(job, inputs, ops.roots + [dropped, shifted])
    assert bad == 2


def test_parallel_oracle_equals_serial():
    inputs = gen.generate("bulk_turns", 2, 300)
    from arabicner_spark.functions.normalize import normalize_py

    gaz = {}
    for phrase, typ, _lvl in inputs.gazetteer:
        gaz.setdefault(typ, set()).add(tuple(normalize_py(phrase).split()))
    rows = inputs.rows()
    serial = check.oracle_digests(rows, gaz, inputs.alias)
    assert check.oracle_digests(rows, gaz, inputs.alias, max(2, NPROC)) == serial
    assert serial["mentions"][0] > 0 and serial["triples"][0] > 0
