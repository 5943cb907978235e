"""Query registry: every implemented operator from SURVEY.md §2 registers a
(spark, sf_dir) -> DataFrame callable plus (where SQL-expressible) a DuckDB
oracle twin with identical column names and value canonicalization.

The correctness driver hard-checks the FIRST 50 queries of ``QUERIES`` in
insertion order; everything after gets no driver row. So the registry is
ordered stalest-first at import (:func:`_reorder`): queries never green on
a driver row come first, then ascending round of their last green row in
the ``CORRECTNESS_r<N>.json`` ledger beside the package, ties in
registration order. Without a ledger (the worker zip) registration order
stands.
"""

from __future__ import annotations

from .registry import ORACLES, QUERIES, repo_root

# importing a module registers its queries
from . import reference  # noqa: E402,F401
from . import relational  # noqa: E402,F401
from . import tpch_extra  # noqa: E402,F401
from . import windows  # noqa: E402,F401
from . import scalars  # noqa: E402,F401
from . import llm  # noqa: E402,F401
from . import udfs  # noqa: E402,F401
from . import stream_windows  # noqa: E402,F401
from . import cdc  # noqa: E402,F401
from . import corpus  # noqa: E402,F401
from . import quality  # noqa: E402,F401
from . import staged  # noqa: E402,F401


def _stalest_first(names: "list[str]", ledger_dir: str) -> "list[str]":
    """``names`` stable-sorted by the last round with a green driver row
    (``hash_match`` true, no ``err``) in ``ledger_dir``'s
    ``CORRECTNESS_r<N>.json`` files; never-green names sort first."""
    import glob
    import json
    import os
    import re

    last: dict[str, int] = {}
    for path in glob.glob(os.path.join(ledger_dir, "CORRECTNESS_r*.json")):
        m = re.fullmatch(r"CORRECTNESS_r(\d+)\.json", os.path.basename(path))
        if m is None:
            continue
        rnd = int(m.group(1))
        with open(path) as f:
            for name, row in json.load(f).items():
                if row.get("hash_match") and not row.get("err"):
                    last[name] = max(last.get(name, 0), rnd)
    return sorted(names, key=lambda n: last.get(n, 0))


def _reorder() -> None:
    ordered = _stalest_first(list(QUERIES), repo_root())
    queries = {n: QUERIES[n] for n in ordered}
    oracles = {n: ORACLES[n] for n in ordered if n in ORACLES}
    QUERIES.clear()
    QUERIES.update(queries)
    ORACLES.clear()
    ORACLES.update(oracles)


_reorder()

__all__ = ["QUERIES", "ORACLES"]
