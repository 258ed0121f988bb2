"""candyspark.functions — the engine's scalar-function surface.

One importable namespace (the engine-level analogue of
``pyspark.sql.functions``) gathering every reusable Column-expression builder:

- numeric/money discipline (``money``, ``rate``, ``round2``, ``snap_round``,
  ``safe_div``) — see :mod:`candyspark.functions.numeric` for why
  money is decimal-exact end to end;
- text analysis (tokenization, stopword/quality/language scoring,
  fingerprints, shingles) — implemented in :mod:`candyspark.operators.text`;
- vector math over ``array<float>`` embeddings (dot/norm/cosine/l2sq) —
  implemented in :mod:`candyspark.operators.similarity`.

Everything here is a pure Column builder: JVM-side, codegen-friendly, no
UDFs, usable inside any DataFrame plan. The reference's scalar surface
(§2.10: round / when / coalesce / to_date / format_*) needs no wrappers —
use ``pyspark.sql.functions`` directly; this module holds only what Spark
does not ship.
"""

from __future__ import annotations

from candyspark.functions.numeric import (
    money,
    rate,
    round2,
    safe_div,
    snap_round,
)
from candyspark.operators.similarity import cosine, dot, l2sq, norm
from candyspark.operators.text import (
    bpe_token_count,
    char_hash32,
    fingerprint_md5,
    lang_guess,
    normalized_text,
    punct_density,
    quality_score,
    rolling_min_hash,
    stopword_count,
    token_count,
    tokens,
    word_shingles,
    ws_token_count,
)

__all__ = [
    "money",
    "rate",
    "round2",
    "snap_round",
    "safe_div",
    "dot",
    "norm",
    "cosine",
    "l2sq",
    "tokens",
    "token_count",
    "ws_token_count",
    "bpe_token_count",
    "stopword_count",
    "char_hash32",
    "normalized_text",
    "fingerprint_md5",
    "rolling_min_hash",
    "word_shingles",
    "punct_density",
    "lang_guess",
    "quality_score",
]
