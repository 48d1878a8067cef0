"""The frozen oracle text of the driver contract, pinned by hash.

`oracle_sql()` and `extra_oracle_sql()` fold the canonical ANN models
(IVF centroids, PQ and residual codebooks, trained on the default model
dir) into their SQL as literals, so these two hashes also pin every
canonical model. No Spark session is needed: the models are read and
trained with pyarrow and numpy."""

from __future__ import annotations

import hashlib
import json

import __spark_entry__ as E


def _sha256(d: dict) -> str:
    return hashlib.sha256(json.dumps(d, sort_keys=True).encode()).hexdigest()


def test_oracle_text_hashes(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_ORACLE_SF_DIR", raising=False)
    assert (
        _sha256(E.oracle_sql())
        == "854e34af264958b6b067b2bd71000b74cd668949a45ebeb55a8e58362f9b8e5c"
    )
    assert (
        _sha256(E.extra_oracle_sql())
        == "13f10d7b2da432d6b9a0eff29f29328c69bf149076b84239cca46f3c336b452b"
    )
