"""Source-scan guards over the package: one md5-hex decoder and one
lineage-cut path.

* The hex alphabet literal lives in exactly one module
  (``operators/dedup.py``, home of ``md5_half_decode_sql``): a second
  module spelling it out is a hand-rolled decoder the oracles can
  drift from.
* ``.localCheckpoint(`` is called only in ``plans/checkpoints.py``:
  every lineage cut goes through ``durable_checkpoint``, which honours
  a configured checkpoint dir (the executor-loss-safe path).
"""

from __future__ import annotations

from pathlib import Path

PKG = Path(__file__).resolve().parents[1] / "incubyte_vaccination_data_pipeline_spark"


def _modules_containing(needle: str) -> list[str]:
    return sorted(
        str(p.relative_to(PKG))
        for p in PKG.rglob("*.py")
        if needle in p.read_text()
    )


def test_hex_alphabet_lives_in_one_module():
    assert _modules_containing("0123456789abcdef") == ["operators/dedup.py"]


def test_local_checkpoint_called_only_by_durable_checkpoint():
    assert _modules_containing(".localCheckpoint(") == ["plans/checkpoints.py"]
