"""Form data extraction (SURVEY.md §2.9 M2/M3).

The reference locates XFA ``datasets`` XML inside the PDF
(PdfToText.php:6060–6089), walks the field values
(PdfToText.php:10205–10236) and optionally maps them through an XML
template into a dynamically ``eval``'d PHP class
(PdfToText.php:9687–10580, eval at 10144). We reproduce the same
observable mapping — raw field dict, plus template-mapped logical
names with ``choice`` case mapping and ``group`` concatenation — as a
plain ``dict[str, str]`` (a ``MapType`` column in Spark); **no
codegen**.

Incremental-update semantics match the reference's object scan: a
later object with the same id (an updated, filled form) overwrites
the original empty one.
"""

from __future__ import annotations

import re
import xml.etree.ElementTree as ET
from dataclasses import dataclass, field

from pdftotext_spark.core.objects import PdfFile
from pdftotext_spark.core import filters

_DATASETS_RE = re.compile(rb"<xfa:datasets[\s>]")


def _strip_ns(tag: str) -> str:
    return tag.rsplit("}", 1)[-1] if "}" in tag else tag.split(":")[-1]


def extract_raw_fields(datasets_xml: bytes) -> dict[str, str]:
    """Walk the XFA datasets tree collecting leaf field values
    (colon-tag handling via namespace strip; PdfToText.php:10208–10236).
    The *last* value wins for repeated field names, matching the
    reference's sequential assignment."""
    try:
        root = ET.fromstring(datasets_xml)
    except ET.ParseError:
        return {}
    fields: dict[str, str] = {}

    def walk(el: ET.Element) -> None:
        children = list(el)
        if not children:
            text = (el.text or "").strip()
            if text:
                fields[_strip_ns(el.tag)] = text
            return
        for c in children:
            walk(c)

    walk(root)
    return fields


def find_form_data(pf: PdfFile, decoded: dict[int, bytes]) -> dict[str, str]:
    """Locate the (last) datasets packet and return raw field values."""
    out: dict[str, str] = {}
    for _oid, body in sorted(decoded.items()):
        if _DATASETS_RE.search(body):
            raw = extract_raw_fields(body)
            if raw:
                out = raw  # later packets (incremental updates) win
    return out


# ------------------------------------------------------------- templates


@dataclass
class FieldDef:
    name: str
    form_field: str
    type: str = "string"
    cases: dict[str, str] = field(default_factory=dict)
    default: str | None = None


@dataclass
class GroupDef:
    name: str
    separator: str
    fields: list[str]


@dataclass
class FormTemplate:
    form_class: str
    version: str
    fields: list[FieldDef]
    groups: list[GroupDef]


def parse_form_templates(xml_text: str) -> list[FormTemplate]:
    """All ``<form version=…>`` variants in a template file — the
    reference allows one definition per form revision under a single
    ``<forms class=…>`` (PdfToText.php:10362–10380)."""
    root = ET.fromstring(xml_text.lstrip("﻿"))
    return [
        _parse_form_el(root.attrib.get("class", ""), el)
        for el in root
        if _strip_ns(el.tag) == "form"
    ]


def select_form_template(
    templates: list[FormTemplate], version: str | None
) -> FormTemplate:
    """Pick the definition whose version matches the document's form
    revision string; fall back to the first (the reference errors on
    an unknown version — we degrade gracefully instead, keeping the
    never-raise invariant)."""
    if version:
        for t in templates:
            if t.version == version:
                return t
    return templates[0]


def parse_form_template(xml_text: str) -> FormTemplate:
    """Parse the reference's form-definition XML
    (``<forms class><form version><field .../><group .../></form>``,
    e.g. examples/formdata-extraction/sample.xml,
    FormTemplates/US-IRS-W9.xml). Single-form convenience wrapper
    around :func:`parse_form_templates`."""
    root = ET.fromstring(xml_text.lstrip("﻿"))
    form_el = next(el for el in root if _strip_ns(el.tag) == "form")
    return _parse_form_el(root.attrib.get("class", ""), form_el)


def _parse_form_el(form_class: str, form_el: ET.Element) -> FormTemplate:
    fields: list[FieldDef] = []
    groups: list[GroupDef] = []
    for el in form_el:
        tag = _strip_ns(el.tag)
        if tag == "field":
            fd = FieldDef(
                el.attrib["name"],
                el.attrib.get("form-field", ""),
                el.attrib.get("type", "string"),
            )
            for c in el:
                ctag = _strip_ns(c.tag)
                if ctag == "case":
                    fd.cases[c.attrib["value"]] = c.attrib["constant"]
                elif ctag == "default":
                    fd.default = c.attrib.get("constant")
            fields.append(fd)
        elif tag == "group":
            groups.append(
                GroupDef(
                    el.attrib["name"],
                    el.attrib.get("separator", ""),
                    [f.strip() for f in el.attrib["fields"].split(",")],
                )
            )
    return FormTemplate(
        form_class, form_el.attrib.get("version", ""), fields, groups
    )


def map_form_data(raw: dict[str, str], template: FormTemplate) -> dict[str, str]:
    """Apply a template: logical names, choice→constant mapping,
    group concatenation (PdfToText.php grouped/choice semantics,
    9687–10580)."""
    out: dict[str, str] = {}
    for fd in template.fields:
        value = raw.get(fd.form_field, "")
        if fd.type == "choice":
            value = fd.cases.get(value, fd.default or "")
        out[fd.name] = value
    for g in template.groups:
        out[g.name] = g.separator.join(out.get(f, "") for f in g.fields)
    return out


def extract_form_data(
    buf: bytes, template_xml: str | None = None
) -> dict[str, str]:
    """End-to-end: scan a PDF byte string → raw XFA fields →
    optional template mapping."""
    from pdftotext_spark.core import objects

    pf = objects.scan(buf)
    decoded: dict[int, bytes] = {}
    for oid, obj in pf.objects.items():
        if obj.stream is None:
            continue
        try:
            decoded[oid] = filters.decode_stream(obj.dict_part, obj.stream)
        except filters.DecodeError:
            continue
    raw = find_form_data(pf, decoded)
    if template_xml is None:
        return raw
    return map_form_data(raw, parse_form_template(template_xml))
