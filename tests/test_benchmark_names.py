"""The benchmark (perfbench/) reaches into the engine by name: its traced
runs wrap kernels by (owner, attribute) and its workloads call operator
functions as module attributes. A deletion in the engine that removes one
of those names breaks only the traced benchmark runs, so pin them here.
perfbench/ is imported, never edited."""

import ast
import sys
from pathlib import Path

import pytest

PERFBENCH = Path(__file__).resolve().parent.parent / "perfbench"


@pytest.fixture(scope="module")
def workloads():
    sys.path.insert(0, str(PERFBENCH))
    try:
        import workloads
    finally:
        sys.path.remove(str(PERFBENCH))
    return workloads


def test_every_kernel_wrap_resolves(workloads):
    missing = [
        (owner.__name__, attr)
        for owner, attr, _span in workloads.KERNEL_WRAPS
        if not callable(getattr(owner, attr, None))
    ]
    assert not missing


def test_every_operator_name_the_workloads_use_exists(workloads):
    """Every ``extract.<name>`` / ``skew.<name>`` in workloads.py names an
    attribute of ``operators.extract`` / ``operators.skew``."""
    tree = ast.parse((PERFBENCH / "workloads.py").read_text())
    modules = {"extract": workloads.extract, "skew": workloads.skew}
    used = {
        (node.value.id, node.attr)
        for node in ast.walk(tree)
        if isinstance(node, ast.Attribute)
        and isinstance(node.value, ast.Name)
        and node.value.id in modules
    }
    assert ("extract", "make_extract_and_score_udf") in used
    missing = sorted(
        (mod, attr) for mod, attr in used if not hasattr(modules[mod], attr)
    )
    assert not missing


def test_fused_batch_generates_through_corpus_gen_doc(workloads, monkeypatch):
    """The traced run times generation by wrapping ``corpus.gen_doc``: the
    fused batch must look it up at call time and call it once per id."""
    import pyarrow as pa

    from ai_textbook_processor_spark import corpus
    from ai_textbook_processor_spark.functions.readability import CriteriaConfig
    from ai_textbook_processor_spark.operators import extract

    real = corpus.gen_doc
    calls = []

    def counting_gen_doc(idx, *args, **kwargs):
        calls.append(idx)
        return real(idx, *args, **kwargs)

    monkeypatch.setattr(corpus, "gen_doc", counting_gen_doc)
    fn = extract.make_generate_extract_score_batch_fn(
        CriteriaConfig(), 3, 5, workloads._fused_out_fields(), procs=1
    )
    ids = list(range(7, 19))
    out = list(fn(iter([pa.RecordBatch.from_arrays([pa.array(ids, pa.int64())], ["id"])])))
    assert calls == ids
    assert sum(b.num_rows for b in out) == len(ids)
