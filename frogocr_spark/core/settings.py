"""Per-turn typed settings with defaults (F9 parity).

FrogOCR carries a dynamic ``settings_csv`` per task, parsed into a typed
struct with per-key fallbacks — reference ``Source/Settings.hpp:70-78``
(parse) and ``:131-209`` (typed ``set()`` with defaults).  The
transcript engine supports the same mechanism: an optional ``settings``
CSV column on the input table tunes the extractor per row.

Supported keys (defaults = reference defaults where they exist):

- ``MinWordConfidence`` (float, default 0.0) — drop words below this
  confidence after extraction (F7 — ``Source/Settings.hpp:49,168-172``;
  HuginMunin's 0.8 gate ``HuginMuninTextRecognizer.cpp:199-201``).
- ``SecondPass`` (``on``/``off``, default on) — enable the two-pass
  low-confidence merge (the optional second detection pass,
  ``Source/TaskProcessor.cpp:249-262``).

Any other key is ignored.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Settings:
    min_word_confidence: float = 0.0
    second_pass: bool = True

    @classmethod
    def parse_csv(cls, csv: str | None) -> "Settings":
        """``k=v,k=v`` → Settings, unknown keys ignored, bad values fall
        back to defaults (the reference's forgiving ``set()``)."""
        if not csv:
            return cls()
        kv: dict[str, str] = {}
        for part in csv.split(","):
            if "=" in part:
                k, v = part.split("=", 1)
                kv[k.strip()] = v.strip()
        try:
            mwc = float(kv.get("MinWordConfidence", "0"))
        except ValueError:
            mwc = 0.0
        return cls(
            min_word_confidence=mwc,
            second_pass=kv.get("SecondPass", "on").lower() != "off",
        )
