"""The engine names ``perfbench`` wraps on every run, traced or not:
``spans.install`` looks each one up with ``getattr``, so renaming or
deleting one fails every benchmark run. Needs no Spark session."""

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.append(os.path.join(REPO, "perfbench"))

import spans  # noqa: E402

from nifi_processors_spark import session  # noqa: E402
from nifi_processors_spark.streaming.pipeline import CdcPipeline  # noqa: E402
from nifi_processors_spark.table import TransactionalTable  # noqa: E402

WRAPPED = {
    (session, "get_spark"),
    (CdcPipeline, "run_once"),
    (CdcPipeline, "apply_batch"),
    *((TransactionalTable, m) for m in (
        "merge", "append", "compact", "expire_snapshots", "read",
    )),
}


def test_spans_install_wraps_every_engine_name():
    originals = {(o, a): getattr(o, a) for o, a in WRAPPED}
    tracer = spans.Tracer("t", False)
    spans.install(tracer)
    try:
        assert {(o, a) for o, a, _ in tracer._patches} == WRAPPED
        for (owner, attr), orig in originals.items():
            assert getattr(owner, attr) is not orig, f"{attr} not wrapped"
    finally:
        spans.uninstall(tracer)
    for (owner, attr), orig in originals.items():
        assert getattr(owner, attr) is orig, f"{attr} not restored"
