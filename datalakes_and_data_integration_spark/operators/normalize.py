"""Column-name normalization (reference operator P1/F1).

Reference behavior (`/root/reference/src/preprocess_to_staging.py:13-32`),
reproduced byte-for-byte: NFKD-decompose and strip accents to ASCII,
lowercase, trim, collapse every non-alphanumeric run to ``_``, and prefix
``_`` if the name starts with a digit. The reference does NOT strip
leading/trailing underscores — a header ending in punctuation normalizes
to a trailing ``_`` ("pm2.5!" -> "pm2_5_") — and neither do we (pinned by
tests). Applied to raw French CSV headers ("Date de début" ->
"date_de_debut") and to table names ("PM2.5" -> "pm2_5"). The UTF-8 BOM on
the first header cell is dropped at the ascii-encode step (it is
non-ASCII), so no leading ``_`` appears — same property as the reference.

Names are driver-side metadata, so this is plain Python — renaming columns
costs nothing in the physical plan (a Project collapses into the scan).
"""

from __future__ import annotations

import re
import unicodedata


def normalize_column_name(name: str) -> str:
    """ASCII-fold + snake-case a raw header cell."""
    text = unicodedata.normalize("NFKD", name)
    text = "".join(ch for ch in text if not unicodedata.combining(ch))
    text = text.encode("ascii", "ignore").decode("ascii")
    text = text.lower().strip()
    text = re.sub(r"[^a-z0-9]+", "_", text)
    if text and text[0].isdigit():
        text = "_" + text
    return text
