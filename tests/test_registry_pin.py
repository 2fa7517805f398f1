"""Pins the registry's contents: every (name -> builder, oracle) pair.

The registry discovers its modules rather than listing them, so a
module that stops defining ``QUERIES``, a renamed builder or an edited
oracle would otherwise change the gate surface silently. Any
deliberate change to a pair updates these digests in the same commit.
"""

import hashlib
import json

from datafusion_functions_financial_spark.plans import registry

N_PAIRS = 481
ORACLE_DIGEST = (
    "d98e93b7edbcab9e5677d407a33eecbcf2e51b71c9dfb1d29ec12b8ebcf7a7a0")
BUILDER_ORACLE_DIGEST = (
    "19eaff3ba67f4e4359cf56c45956602db45e38ca2950bac23b125d3dfee0052f")


def _digest(rows) -> str:
    return hashlib.sha256(json.dumps(sorted(rows)).encode()).hexdigest()


def test_registry_pairs_pinned():
    pairs = registry._collect()
    assert len(pairs) == N_PAIRS
    assert _digest((n, sql) for n, (_fn, sql) in pairs.items()) \
        == ORACLE_DIGEST
    assert _digest((n, f"{fn.__module__}.{fn.__qualname__}", sql)
                   for n, (fn, sql) in pairs.items()) \
        == BUILDER_ORACLE_DIGEST
