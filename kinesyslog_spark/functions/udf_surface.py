r"""The engine's declared UDF/UDAF/UDTF surface (SURVEY §2b).

Most of the engine deliberately stays in built-in Catalyst expressions;
Python enters only where the semantics demand it, always Arrow-batched:

- scalar pandas UDF ........ operators/framing.py (zlib/gzip decompress,
                             lossy-decode parity)
- grouped-map applyInPandas  operators/framing.py (stream reframing)
- grouped-map applyInArrow . sinks/records.py (the relay sink: envelope +
                             record JSON + gzip + split + spool, one
                             Python pass per trigger)
- mapInArrow ............... sinks/records.py (reference-path record
                             serialization, spool read-back)
- mapInPandas .............. operators/multimodal.py
- applyInPandasWithState ... streaming/state.py (chunk reassembly)
- grouped-agg pandas UDF ... THIS MODULE: `gmean_udaf` — a custom
                             aggregate Catalyst lacks (geometric mean),
                             with map-side partial aggregation supplied
                             by Arrow batching per group.
- Python UDTF .............. THIS MODULE: `FrameLines` — one input row
                             fans out to N framed-message rows with
                             per-row sequence state, the table-function
                             form of F1 framing for file-replay mode
                             (protocol.py:92-104 semantics: LF/NUL/CR
                             terminators, 6 KiB truncate).

These are demonstration-grade entry points with tests
(tests/test_udf_surface.py); the relay's parse stays UDF-free
(tests/test_plans.py::test_q24_parse_all_jvm_side) and its sink is one
Python pass (tests/test_streaming.py::test_relay_sink_runs_one_python_node).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql.functions import pandas_udf, udtf
from pyspark.sql.types import DoubleType

from kinesyslog_spark.constants import MAX_MESSAGE_LENGTH

TERMINATORS = b"\n\x00\r"


# returnType as a DataType instance, NOT a DDL string: executors import
# this module when running the UDTF below, and DDL parsing requires an
# active SparkSession that workers don't have.
@pandas_udf(DoubleType())
def gmean_udaf(v: pd.Series) -> float:
    """Grouped-agg pandas UDAF: geometric mean (no Catalyst built-in).

    Used as `df.groupBy(k).agg(gmean_udaf("x"))`; Spark feeds each
    group's column as one Arrow batch. Zeros/negatives are floored to
    1e-12 (log-domain), matching the usual quality-score convention."""
    import numpy as np

    if len(v) == 0:
        return float("nan")
    return float(np.exp(np.log(v.clip(lower=1e-12)).mean()))


@udtf(returnType="msg_seq int, message string")
class FrameLines:
    """UDTF form of F1 non-transparent framing (RFC6587 §3.4.2) for
    file-replay: `FrameLines(raw)` emits one row per framed message.

    Mirrors protocol.py:92-104: split on the first of LF/NUL/CR,
    terminator consumed, empty frames dropped, every message truncated
    to 6 KiB (constant.py:5). Python-side by design — the table-function
    shape (1 row in, N rows out, stateful seq) is what's being
    demonstrated; the relational form is operators/framing.frame_lines.
    """

    def eval(self, raw: str):  # noqa: D102
        if raw is None:
            return
        buf = raw.encode("utf-8", "surrogateescape")
        seq = 0
        for chunk in _split_terminators(buf):
            if not chunk:
                continue
            yield seq, chunk[:MAX_MESSAGE_LENGTH].decode("utf-8", "backslashreplace")
            seq += 1


def _split_terminators(buf: bytes) -> list[bytes]:
    out, cur = [], bytearray()
    for b in buf:
        if b in TERMINATORS:
            out.append(bytes(cur))
            cur = bytearray()
        else:
            cur.append(b)
    out.append(bytes(cur))
    return out
