"""readability_1_spark — a PySpark-native main-content extraction engine.

Architecture (SURVEY.md):
* ``dom`` / ``readability`` / ``readerable``: the per-document extraction
  kernel, matching /root/reference (JSDOMParser.js + Readability.js +
  Readability-readerable.js) output exactly.
* ``kernel``: Arrow-batch wrapper exposing the kernel to ``mapInArrow``.
* ``pipeline``: the distributed pipeline — HTML gating, per-turn hash shuffle/skew
  handling, extraction, lineage + metrics, checkpoint/resume.
* ``transcripts``: deterministic synthetic transcript-table builders.
* ``queries``: pipeline-level analytic operators with SQL oracles.
"""

from . import _zipdir
from .extract import extract_one  # noqa: F401

_zipdir.install()

__version__ = "0.1.0"
