"""Presentation sinks (reference S3/S6/S7/F8) — driver-side by
nature: the day's rows are collected once and every presentation
artifact is built from that pandas frame, as the reference builds its
workbook and email from the frame it holds (aiesec.py:145-251).

- ``render_cards_html`` / ``render_email_html``: the per-row HTML card
  template (aiesec.py:188-233) joined into the notification body.
- ``write_styled_report``: the styled-Excel report (aiesec.py:148-183)
  with its header fill, premium highlight and autofit, written by
  the stdlib-only ``sinks/xlsxlite.py``, the one workbook codec.
- ``notify_if_nonempty``: the guarded send (aiesec.py:236-251) with
  the transport injected (no SMTP here; the default logs).
"""

from __future__ import annotations

import logging
from collections.abc import Callable
from typing import TYPE_CHECKING

from . import xlsxlite

if TYPE_CHECKING:
    import pandas as pd

log = logging.getLogger(__name__)

CARD_TEMPLATE = (
    '<div class="card"><h3><a href="%s">%s</a></h3>'
    "<p>%s · %s · %s</p>%s</div>"
)
_CARD_FIELDS = ("opportunity_link", "title", "organization", "country", "duration")
_PREMIUM_BADGE = '<span class="badge">Premium</span>'

EMAIL_DOC_TEMPLATE = (
    "<!DOCTYPE html>\n<html>\n<head>\n"
    '  <meta charset="UTF-8">\n'
    "  <title>New Opportunities</title>\n"
    "</head>\n<body>\n{cards}\n</body>\n</html>"
)


def render_cards_html(pdf: pd.DataFrame) -> str:
    """The delta's cards, one per row, joined by newlines ("" when the
    frame is empty).  A null field renders as "null", as Spark's
    ``format_string`` did."""
    return "\n".join(
        CARD_TEMPLATE
        % (
            *("null" if r[c] is None else r[c] for c in _CARD_FIELDS),
            _PREMIUM_BADGE if r["premium"] == "Yes" else "",
        )
        for r in pdf.to_dict("records")
    )


def render_email_html(pdf: pd.DataFrame) -> str:
    """Complete email HTML document (head/charset/title wrapping the
    cards), matching the reference's full-document body
    (aiesec.py:221-233) rather than bare concatenated cards.  Returns
    "" when the delta is empty so the guard still works."""
    cards = render_cards_html(pdf)
    if not cards:
        return ""
    return EMAIL_DOC_TEMPLATE.format(cards=cards)


def write_styled_report(pdf: pd.DataFrame, path: str) -> str:
    """Small-result edge sink: a styled xlsx written by ``xlsxlite``
    with the reference's header fill / premium highlight / autofit
    (aiesec.py:148-183).  Returns the path written."""
    xlsx = path if path.endswith(".xlsx") else path + ".xlsx"
    highlight = (
        {i for i, v in enumerate(pdf["premium"]) if v == "Yes"}
        if "premium" in pdf.columns
        else set()
    )
    return xlsxlite.write_xlsx(
        xlsx, list(pdf.columns), pdf.values.tolist(), highlight_rows=highlight
    )


def notify_if_nonempty(body: str, send: Callable[[str], None] | None = None) -> bool:
    """The reference's guarded send: deliver ``body`` iff it is
    non-empty; returns whether a notification went out."""
    if not body:
        log.info("no new opportunities found — notification skipped")
        return False
    (send or (lambda b: log.info("notification body:\n%s", b)))(body)
    return True
