"""Special / nonrecurring item detection (monetary amounts, footnote
references, keyword-scored disclosures).

Mirrors the reference's extract_items.py:904-1156, except that the
anchor hash is crc32: the reference's salted built-in hash()
(extract_items.py:1122) differs between interpreters unless
PYTHONHASHSEED is pinned, so its anchor hashes cannot be reproduced
across Spark workers.
"""

from __future__ import annotations

import re
import zlib
from typing import Any

_AMOUNT_PATTERNS: list[tuple[str, Any]] = [
    # $123.4M / $123.4 million / $123,456
    (
        r"\$\s*(\d+(?:,\d{3})*(?:\.\d+)?)\s*(million|billion|thousand|m|b|k)?",
        lambda m: (float(m.group(1).replace(",", "")), m.group(2) or "dollars"),
    ),
    # parenthetical negatives: ($123.4), (123.4 million)
    (
        r"\(\$?\s*(\d+(?:,\d{3})*(?:\.\d+)?)\s*(million|billion|thousand|m|b|k)?\)",
        lambda m: (-float(m.group(1).replace(",", "")), m.group(2) or "dollars"),
    ),
    # bare "123.4 million"
    (
        r"(?<!\d)(\d+(?:,\d{3})*(?:\.\d+)?)\s+(million|billion|thousand)",
        lambda m: (float(m.group(1).replace(",", "")), m.group(2)),
    ),
]


def find_amounts(text: str) -> list[dict[str, Any]]:
    """Monetary amounts with value/scale/position
    (extract_monetary_amounts, extract_items.py:904-944)."""
    out: list[dict[str, Any]] = []
    for pattern, reader in _AMOUNT_PATTERNS:
        for m in re.finditer(pattern, text, flags=re.IGNORECASE):
            try:
                value, scale = reader(m)
            except (ValueError, AttributeError):
                continue
            out.append(
                {
                    "raw": m.group(0),
                    "value": value,
                    "scale": scale.lower() if scale else "dollars",
                    "position": m.start(),
                }
            )
    return out


_FOOTNOTE_PATTERNS = [
    r"(?:see\s+)?note\s+(\d+|[A-Z])",
    r"\((\d+)\)",
    r"footnote\s+(\d+)",
]


def find_footnotes(text: str) -> list[dict[str, Any]]:
    """Footnote references (extract_footnote_references,
    extract_items.py:946-974)."""
    out: list[dict[str, Any]] = []
    for pattern in _FOOTNOTE_PATTERNS:
        for m in re.finditer(pattern, text, flags=re.IGNORECASE):
            out.append(
                {"raw": m.group(0), "note_id": m.group(1), "position": m.start()}
            )
    return out


_STRONG = {"restructuring", "impairment", "discontinued_ops"}
_MEDIUM = {"litigation", "unusual", "acquisition"}
_MEDIUM_WEAK = {"asset_sale"}


def find_special_items(doc_text: str, config: dict[str, Any]) -> list[dict[str, Any]]:
    """Keyword-scored special items over the Item 7/8 neighbourhood
    (extract_special_items, extract_items.py:976-1156)."""
    if not config.get("enabled", False):
        return []

    keywords: dict[str, list[str]] = config.get("keywords", {})
    threshold = config.get("confidence_threshold", 0.3)

    item8 = re.search(
        rf"\n[^\S\r\n]*ITEMS?\s*8[.*~\-:\s\(]", doc_text, flags=re.IGNORECASE | re.DOTALL
    )
    item7 = None
    if config.get("scan_item_7_mda", False):
        item7 = re.search(
            rf"\n[^\S\r\n]*ITEMS?\s*7[.*~\-:\s\(]",
            doc_text,
            flags=re.IGNORECASE | re.DOTALL,
        )
    start = item7.start() if item7 else (item8.start() if item8 else 0)
    # bounded scan: never regex more than ~500KB per filing
    scope = doc_text[start : start + 500000]

    found: list[dict[str, Any]] = []
    for category, terms in keywords.items():
        if not terms:
            continue
        rx = re.compile(
            r"\b(" + "|".join(re.escape(t) for t in terms) + r")\b",
            flags=re.IGNORECASE,
        )
        for m in rx.finditer(scope):
            pos = m.start()
            c0, c1 = max(0, pos - 500), min(len(scope), pos + 500)
            context = scope[c0:c1]
            amounts = find_amounts(context)
            footnotes = find_footnotes(context)

            if category in _STRONG:
                confidence = 0.4
            elif category in _MEDIUM:
                confidence = 0.3
            elif category in _MEDIUM_WEAK:
                confidence = 0.25
            else:
                confidence = 0.2

            rel = pos - c0
            closest_amt = None
            if amounts:
                closest_amt = min(amounts, key=lambda a: abs(a["position"] - rel))
                dist = abs(closest_amt["position"] - rel)
                if dist < 100:
                    confidence += 0.3
                elif dist < 200:
                    confidence += 0.2
                elif dist < 300:
                    confidence += 0.1
            closest_fn = None
            if footnotes:
                closest_fn = min(footnotes, key=lambda r: abs(r["position"] - rel))
                if abs(closest_fn["position"] - rel) < 150:
                    confidence += 0.2

            if confidence < threshold:
                continue

            if item7 and item8:
                in_item7 = pos < item8.start() - start
            elif item7:
                in_item7 = True
            else:
                in_item7 = False

            ctx_stripped = context.strip()
            record: dict[str, Any] = {
                "type": category,
                "keywords_matched": [m.group(0)],
                "confidence": round(confidence, 2),
                "source_section": "item_7" if in_item7 else "item_8",
                "context": ctx_stripped[:300] + "..."
                if len(context) > 300
                else ctx_stripped,
                "amount_raw": closest_amt["raw"] if closest_amt else None,
                "amount_value": closest_amt["value"] if closest_amt else None,
                "amount_scale": closest_amt["scale"] if closest_amt else None,
                "footnote_reference": closest_fn["raw"] if closest_fn else None,
                "footnote_id": closest_fn["note_id"] if closest_fn else None,
            }
            record["anchor_hash"] = zlib.crc32(context[:100].encode("utf-8")) % 10**8
            found.append(record)

    # dedup by (type, first 100 chars of context); union keywords,
    # keep max confidence (extract_items.py:1132-1151)
    deduped: list[dict[str, Any]] = []
    for item in sorted(found, key=lambda x: x.get("context", "")):
        dup = None
        for existing in deduped:
            if (
                item["type"] == existing["type"]
                and item.get("context", "")[:100] == existing.get("context", "")[:100]
            ):
                dup = existing
                break
        if dup is not None:
            dup["keywords_matched"] = list(
                set(dup["keywords_matched"] + item["keywords_matched"])
            )
            dup["confidence"] = max(dup["confidence"], item["confidence"])
        else:
            deduped.append(item)
    return deduped
