"""Nordic-logistics invoice field extraction (payload family ``invoice_ocr``).

Re-expresses the semantics of the reference's
``nordic-logistics-invoice/nordic-invoice.py``:

* the 14-field regex battery  (nordic-invoice.py:8-23, operator X2),
* segmentation on ``Order No.`` with the ``:``-prefix repair
  (nordic-invoice.py:65-70, operator X3),
* header fields (invoice / invoice date / due date / customer number)
  captured from segment 0 and carried onto every later line-item record
  (nordic-invoice.py:73-80, operator M7),
* forward-fill of missing ``Delivery date`` from the previous record
  (nordic-invoice.py:94-100, operator M8).

Deviation from the reference (documented): the reference carries state
across the whole PDF — the delivery-date forward-fill AND the header
fields (invoice/invoice_date/due_date/customer_number stamped from the
page where they last matched onto every later page's records). Here both
reset per payload, because turns are the unit of parallelism: cross-turn
delivery-date fill is provided as a window operator
(``pipeline.conv_forward_fill``), and multi-page invoices belong to
conversation-level stitching (``pipeline.conv_stitch_arrow``, a
``groupBy(conv_id).applyInArrow``) before extraction.
"""

from __future__ import annotations

import re

# Field patterns, semantics of nordic-invoice.py:8-23 (verbatim battery).
PATTERNS: dict[str, re.Pattern[str]] = {
    "invoice": re.compile(r"Invoice\s(\d+)"),
    "invoice_date": re.compile(r"Invoice Date:\s*(\d{2}\.\d{2}\.\d{4})"),
    "order_no": re.compile(r"Order No.:\s*(\d+)"),
    "ext_order_no": re.compile(r"Ext\. order no\.\s*:\s*(\w+(?:-\w+)?)"),
    "customer_number": re.compile(r"Customer Number:\s*(\d+)"),
    "loading_date": re.compile(r"Loading date\s*(\d{2}\.\d{2}\.\d{4})"),
    "delivery_date": re.compile(r"Delivery date\s*(\d{2}\.\d{2}\.\d{4})"),
    "vessel_name": re.compile(r"Vessel Name:\s*(.+?)\sContainer type:"),
    "port_of_loading": re.compile(r"Port of loading:\s*©?\s*(\w+)"),
    "port_of_delivery": re.compile(r"Port of delivery:\s*(\w+)"),
    "total_amount_without_vat": re.compile(
        r"Total amount without VAT\s*((?:\d{1,3}(?:\s?\d{3})*),\d{2} NOK)"
    ),
    "due_date": re.compile(r"Due Date:\s*(\d{2}\.\d{2}\.\d{4})"),
    "tour_no": re.compile(r"Tour No.:\s*(\d+)"),
}

HEADER_FIELDS = ("invoice", "invoice_date", "due_date", "customer_number")

RECORD_FIELDS = (
    "invoice",
    "invoice_date",
    "order_no",
    "ext_order_no",
    "customer_number",
    "loading_date",
    "delivery_date",
    "vessel_name",
    "port_of_loading",
    "port_of_delivery",
    "total_amount_without_vat",
    "due_date",
    "tour_no",
)

_SEG_TOKEN = "Order No."


def _extract_fields(segment: str, base: int) -> tuple[dict[str, str], list[dict]]:
    """Apply the full battery to one segment (nordic-invoice.py:103-115).

    Returns (fields, spans); span offsets are into the original payload
    (segment offset ``base`` added back).
    """
    fields: dict[str, str] = {}
    spans: list[dict] = []
    for label, pat in PATTERNS.items():
        m = pat.search(segment)
        if m:
            fields[label] = m.group(1)
            spans.append(
                {
                    "label": label,
                    "start": base + m.start(1),
                    "end": base + m.end(1),
                    "value": m.group(1),
                }
            )
    return fields, spans


def extract(payload: str) -> dict:
    # X3: segment on "Order No."; keep byte offsets so spans stay anchored
    # to the original payload.
    parts = payload.split(_SEG_TOKEN)
    offsets: list[int] = []
    pos = 0
    for i, part in enumerate(parts):
        offsets.append(pos)
        pos += len(part) + (len(_SEG_TOKEN) if i < len(parts) - 1 else 0)

    header = {k: None for k in HEADER_FIELDS}
    records: list[dict] = []
    spans: list[dict] = []
    for index, part in enumerate(parts):
        base = offsets[index]
        # nordic-invoice.py:69-70 — re-prefix the split token when the
        # fragment starts with ":" so "Order No.:" patterns still match.
        if part.startswith(":"):
            part = _SEG_TOKEN + part
            base -= len(_SEG_TOKEN)
        fields, seg_spans = _extract_fields(part, base)
        if not fields:
            continue
        if index == 0:
            # M7: header capture (nordic-invoice.py:73-77). The reference's
            # get() returns a value only when 'Invoice' matched.
            if "invoice" in fields:
                for k in HEADER_FIELDS:
                    header[k] = fields.get(k)
            spans.extend(seg_spans)
        else:
            rec = {k: None for k in RECORD_FIELDS}
            rec.update(header)
            rec.update(fields)
            records.append(rec)
            spans.extend(seg_spans)

    # M8: per-payload forward-fill of Delivery date (nordic-invoice.py:94-100).
    delivery = None
    for rec in records:
        if rec.get("delivery_date") is not None:
            delivery = rec["delivery_date"]
        else:
            rec["delivery_date"] = delivery

    return {
        "extracted_text": payload,
        "spans": spans,
        "records": records,
        "parse_errors": 0,
    }
