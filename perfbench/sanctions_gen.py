"""Seeded EU-style sanctions feed + travel-ban PDF with known analyst rows.

Every generated entity is one of the packaged fixture's entities
(``feed.xml``), renamed with a token unique to its unit, and every PDF
chunk is the matching ``travel_ban.txt`` chunk, renamed the same way and
given unit-unique ``Number:`` values. Because names and numbers never
repeat across units, no entity's REM2 neighbour fill can pick up another
unit's value, so each unit's analyst rows are its template's rows from
the ``pipeline_e2e`` golden snapshot with the token and numbers
substituted: the expectation is known by construction.

Units (entities per unit):
  jose      1  Latin name, explicit gender, PDF chunk
  mohammed  1  non-Latin first alias, next-line PDF name, two numbers
  mullah    1  forced-male title, no PDF chunk
  maria     2  duplicate-name pair (REM2 neighbour-fill conflict)
  acme      1  non-Latin aliases only -> UNKNOWN row
"""

from __future__ import annotations

import os
import random
import re
from dataclasses import dataclass

from sanctions_data_pipeline_spark.data.fixtures import fixture_path
from sanctions_data_pipeline_spark.data.gender_dict import forced_male_regex
from sanctions_data_pipeline_spark.pipeline import (
    DEFAULT_SOURCE, DEFAULT_WEB_LINK, OUTPUT_COLUMNS,
)

COLUMNS = ["entity_seq", *OUTPUT_COLUMNS, "REM2_STATE"]

# fixture feed.xml entity order -> unit; maria covers two entities
_FEED_UNITS = ("jose", "mohammed", "mullah", "maria", "acme")
# travel_ban.txt chunk order
_PDF_UNITS = ("jose", "mohammed", "maria")
# XML wholeName and PDF Name/Alias that receive the unit token
_NAMES = {
    "jose": ("José García Moreno", "Jose Garcia Moreno"),
    "mohammed": ("Mohammed Aliyev", "Mohammed Aliyev"),
    "mullah": ("Mullah Abdul Rahman", None),
    "maria": ("Maria Lopez", "Maria Lopez"),
    "acme": (None, None),
}

_COMMON = {"WEB_LINK": DEFAULT_WEB_LINK, "SOURCE": DEFAULT_SOURCE}
# Golden analyst rows per template entity ({T} = the unit's token);
# unlisted columns are ''. Fixture numbers are renumbered per unit.
_EXPECTED = {
    "jose": [{
        "FULL_NAME": "Jose Garcia Moreno{T}", "CATEGORY": "P",
        "GENDER": "Male", "DOB": "12-01-1965", "ADD_CITY": "Caracas",
        "ADD_COUNTRY": "Venezuela", "STATE": "Distrito Capital",
        "NATIONALITIES": "Venezuela",
        "ADDRESS": "Venezuela Caracas City Av. Urdaneta 12 Distrito Capital 1010",
        "DETAILS": "Title: (EU) 2020/1; Birth date: 1966; Birth place: "
                   "Caracas; Citizenship: Colombia; Remark: Listed under "
                   "programme VEN",
        "ALIAS": "Pepe Garcia", "REM1": "Designation: Minister of Finance",
        "REM2": "Number: EU.1234.5; Programme: VEN", "REM2_STATE": "filled"}],
    "mohammed": [{
        "FULL_NAME": "Mohammed Aliyev{T}", "CATEGORY": "P", "GENDER": "Male",
        "DOB": "05-03-1970", "ADD_CITY": "Damascus",
        "NATIONALITIES": "Syrian Arab Republic", "ADDRESS": "Damascus",
        "DETAILS": "Birth date: 06-04-1971",
        "REM1": "Designation: Commander; Recruiter",
        "REM2": "Number: EU.2222.1 / EU.2222.2; Programme: SYR",
        "REM2_STATE": "filled"}],
    "mullah": [{
        "FULL_NAME": "Mullah Abdul Rahman{T}", "CATEGORY": "P",
        "GENDER": "Male", "ADD_CITY": "Kandahar",
        "ADD_COUNTRY": "Afghanistan",
        "ADDRESS": "Afghanistan Kandahar City Kandahar Province; Pakistan "
                   "Quetta Baluchistan Province",
        "DETAILS": "Title: Mullah / Haji", "REM2_STATE": "empty_unique"}],
    "maria": [
        {"FULL_NAME": "Maria Lopez{T}", "CATEGORY": "P", "GENDER": "Female",
         "DETAILS": "Birth date: 1980", "REM2_STATE": "conflict"},
        {"FULL_NAME": "Maria Lopez{T}", "CATEGORY": "P", "GENDER": "Female",
         "REM2_STATE": "conflict"}],
    "acme": [{
        "FULL_NAME": "UNKNOWN", "CATEGORY": "UNKNOWN", "GENDER": "Male",
        "REM2_STATE": "empty_unique"}],
}
_NUMBER_RE = re.compile(r"EU\.\d+\.(\d)")


@dataclass(frozen=True)
class FeedSpec:
    """Input settings. Shares are probabilities per drawn entity."""
    n_entities: int = 12_000
    dup_share: float = 0.1        # entities in duplicate-name pairs
    non_latin_share: float = 0.3  # entities whose first/only alias is Cyrillic
    pdf_coverage: float = 0.7     # PDF-listed units that get a PDF chunk


@dataclass(frozen=True)
class Unit:
    kind: str
    token: str    # '' keeps the fixture's names and numbers verbatim
    uid: int
    in_pdf: bool


def _templates() -> tuple[str, dict[str, list[str]], str, str, dict[str, str]]:
    """Fixture -> (XML head, entity blocks per unit, XML tail, PDF
    preamble, PDF chunk per unit)."""
    with open(fixture_path("feed.xml"), encoding="utf-8") as fh:
        xml = fh.read()
    blocks = re.findall(r"<sanctionEntity\b.*?</sanctionEntity>\n", xml, re.S)
    head = xml[:xml.index(blocks[0])]
    tail = xml[xml.rindex(blocks[-1]) + len(blocks[-1]):]
    feed: dict[str, list[str]] = {k: [] for k in _FEED_UNITS}
    kinds = [k for k in _FEED_UNITS for _ in _EXPECTED[k]]
    for kind, block in zip(kinds, blocks, strict=True):
        feed[kind].append(block)
    with open(fixture_path("travel_ban.txt"), encoding="utf-8") as fh:
        text = fh.read()
    parts = re.split(r"(?=^Entity \d+\n)", text, flags=re.M)
    chunks = dict(zip(_PDF_UNITS, parts[1:], strict=True))
    return head, feed, tail, parts[0], chunks


def _tokens():
    """Unique capitalised tokens that no name rule reacts to: Latin
    letters only, and no forced-male substring (which would flip the
    'Maria' rows to Male)."""
    cons, vows = "bdfgklmnstv", "aeiou"
    syl = [c + v for c in cons for v in vows]
    forced = re.compile(forced_male_regex())
    k = 0
    while True:
        word, n = "", k
        for _ in range(3):
            word += syl[n % len(syl)]
            n //= len(syl)
        k += 1
        if n == 0 and not forced.search(word):
            yield word.capitalize()


def _numbers(unit: Unit, text: str) -> str:
    if not unit.token:
        return text
    return _NUMBER_RE.sub(lambda m: f"EU.{100000 + unit.uid}.{m.group(1)}", text)


def _named(name: str | None, unit: Unit) -> str | None:
    return f"{name} {unit.token}" if name and unit.token else name


def draw_units(seed: int, spec: FeedSpec) -> list[Unit]:
    rng = random.Random(seed)
    tokens = _tokens()
    # per-unit probability that gives `dup_share` of entities in pairs
    pair_p = spec.dup_share / (2 - spec.dup_share)
    units: list[Unit] = []
    n = 0
    while n < spec.n_entities:
        r = rng.random()
        if r < pair_p and spec.n_entities - n >= 2:
            kind = "maria"
        elif r < pair_p + spec.non_latin_share:
            kind = rng.choice(("mohammed", "acme"))
        else:
            kind = rng.choice(("jose", "mullah"))
        in_pdf = kind in _PDF_UNITS and rng.random() < spec.pdf_coverage
        units.append(Unit(kind, next(tokens), len(units), in_pdf))
        n += len(_EXPECTED[kind])
    return units


def fixture_units() -> list[Unit]:
    """One copy of each template, untokenised, in fixture order."""
    return [Unit(k, "", i, k in _PDF_UNITS) for i, k in enumerate(_FEED_UNITS)]


def render(units: list[Unit]) -> tuple[str, str]:
    """Units -> (feed XML, travel-ban text)."""
    head, feed, tail, preamble, chunks = _templates()
    xml, pdf = [head], [preamble]
    for u in units:
        xml_name = _NAMES[u.kind][0]
        for block in feed[u.kind]:
            if xml_name:
                block = block.replace(f'wholeName="{xml_name}"',
                                      f'wholeName="{_named(xml_name, u)}"')
            xml.append(block)
        if u.in_pdf:
            pdf_name = _NAMES[u.kind][1]
            chunk = chunks[u.kind].replace(pdf_name, _named(pdf_name, u), 1)
            chunk = re.sub(r"^Entity \d+", f"Entity {len(pdf)}", chunk)
            pdf.append(_numbers(u, chunk))
    xml.append(tail)
    return "".join(xml), "".join(pdf)


def expected_rows(units: list[Unit]) -> list[tuple]:
    """The analyst rows the pipeline must produce, in entity order."""
    rows: list[tuple] = []
    for u in units:
        for tmpl in _EXPECTED[u.kind]:
            vals = {**_COMMON, **tmpl}
            if not u.in_pdf and "REM2" in vals:
                vals["REM2"] = ""
                vals["REM2_STATE"] = "empty_unique"
            vals["REM2"] = _numbers(u, vals.get("REM2", ""))
            token = f" {u.token}" if u.token else ""
            rows.append((len(rows), *(vals.get(c, "").replace("{T}", token)
                                       for c in COLUMNS[1:])))
    return rows


def write_inputs(out_dir: str, seed: int, spec: FeedSpec) -> tuple[str, str, list[tuple]]:
    """Write feed.xml + travel_ban.pdf under ``out_dir``; return their
    paths and the expected analyst rows."""
    from tools.make_pdf_fixture import build_pdf

    units = draw_units(seed, spec)
    xml, text = render(units)
    os.makedirs(out_dir, exist_ok=True)
    xml_path = os.path.join(out_dir, "feed.xml")
    pdf_path = os.path.join(out_dir, "travel_ban.pdf")
    with open(xml_path, "w", encoding="utf-8") as fh:
        fh.write(xml)
    with open(pdf_path, "wb") as fh:
        fh.write(build_pdf(text))
    return xml_path, pdf_path, expected_rows(units)
