"""Roman-census household extraction (payload family ``census_page``), stage A.

Re-expresses ``roman-census/household.py``:

* the key-prefix record segmenter M1 + continuation-line merger M2
  (household.py:22-143),
* boilerplate line filter F1 (household.py:95-96), empty-line skip F11
  (household.py:41-42), sentinel filters F12 (household.py:74-75,85-86),
* numbered-substring member extract X21 (household.py:186-192),
* occupation dictionary X9 — the household.py variant, which differs from
  persons.py's (SURVEY.md §7: both dictionaries kept, staged correctly),
* declarant name parser X12 with its special-case cascade
  (household.py:288-393),
* id generation X14 (household.py:172-179), household-number splitter X15
  (household.py:221-226), provenance splitter X16 (household.py:228-232),
* brokenness flag X17 (household.py:203-207), counts X18
  (household.py:278-280), first-5 spread X19 (household.py:259-268),
* record re-segmentation on '(1)' M10 (household.py:209-219, 414-431).

**Deviation (per-turn statelessness)**: the reference carries
``current_household``/``last_read_variable`` across PAGES (state outside
the page loop, household.py:26-46), so a household spanning a page
boundary continues on the next page. Here the turn is the unit of
parallelism, so state resets per payload and a leading orphan fragment
(no ``HOUSEHOLD NO.:`` yet) is dropped by the household_number guard.
Multi-page households belong to conversation-level stitching
(``pipeline.conv_stitch_arrow``, a ``groupBy(conv_id).applyInArrow``) before
extraction — the same trade nordic.py and mobil.py document.
"""

from __future__ import annotations

import re

_RE_MEMBER = re.compile(r"\((1[0-9]|2[0-9]|30|[1-9])\).*")
_BOILER_PREFIXES = ("Cambridge Books", "https://", "Catalogue of census declarations")

# household.py:146-152 — the household-stage occupation dictionary (differs
# from the persons-stage copy; both are kept, see census_persons.py).
OCCUPATIONS = [
    "public farmer and priest", "public farmer", "farmer", "priest", "mason",
    "discharged solder", "workman", "idiotes", "former gym- nasiarch", "metallikos",
    "discharged veteran", "hyperetes", "hierotek- ton", "tax-exempt hieronikes",
    "nekrotaphos", "woolwasher", "linenweaver", "sitometrosakkophoros",
    "former exegetai", "member of the hiera synodos",
    "councillor", "taurotrophos", "fisherman", "weaver", "donkey driver",
    "goldsmith", "spinner", "salaried linen-weaver", "lathe turner",
]

_RE_DECLARANT = re.compile(
    r"^([A-Za-z\s.]+?)(?=\s+s\.)|([A-Za-z\s.]+?)(?=\s+d\.)|([A-Za-z]+(?: and [A-Za-z]+)*)\b"
)


def _empty_household() -> dict:
    return {
        "household_number": None,
        "source": None,
        "provenance": None,
        "declarant_name": None,
        "declarant_name_parsed": [],
        "declarant_id": [],
        "name_of_family_members": [],
        "name_of_non_family_members": [],
        "slaves": [],
        "declarant_occupation": None,
        "verif_photo": None,
        "discussion": None,
    }


def extract_numbered_substring(s: str) -> str | None:
    """household.py:186-192 (X21)."""
    m = _RE_MEMBER.search(s)
    return m.group(0) if m else None


def _append_member(bucket: list[str], line: str) -> None:
    """M2 continuation merge (household.py:97-130)."""
    member = extract_numbered_substring(line)
    if member:
        bucket.append(member)
    elif not bucket:
        bucket.append(" " + line)
    else:
        bucket[-1] += " " + line


def parse_households(lines: list[str]) -> list[dict]:
    """The M1 state machine (household.py:38-143). ``lines`` excludes the
    2-line page header (household.py:38 iterates ``lines[2:]``)."""
    data: list[dict] = []
    current = _empty_household()
    last_var = ""
    counter = 0
    for line in lines:
        if line == "":
            continue
        if line.startswith("HOUSEHOLD NO.:"):
            if counter != 0:
                data.append(current)
                current = _empty_household()
                last_var = ""
            current["household_number"] = line.split(":")[1].strip()
            counter += 1
        elif line.startswith("Source:") or line[1:].startswith("Source:") or line.startswith("*Source:"):
            current["source"] = line.split("Source:")[1].strip()
        elif line.startswith("Prov., Date:"):
            current["provenance"] = line.split(":")[1].strip()
        elif line.startswith(("Declarant:", "Declarants:")):
            last_var = "declarant_name"
            current["declarant_name"] = line.split(":")[1].strip()
        elif line.startswith(
            ("Family members:", "Family members, free non-kin:", "Family members, free non-kin, slaves:")
        ):
            last_var = "name_of_family_members"
            member = extract_numbered_substring(line)
            if member:
                current["name_of_family_members"].append(member)
        elif line.startswith(("Free non-kin, slaves:", "Free non-kin:")):
            last_var = "name_of_non_family_members"
            member = extract_numbered_substring(line)
            if member:
                current["name_of_non_family_members"].append(member)
            else:
                value = line[line.find(":") + 1 :].strip()
                # F12 sentinel filter (household.py:74-75)
                if value and not value.startswith("None") and value not in ("No names survive", "No name survive"):
                    current["name_of_non_family_members"].append(value)
        elif line.startswith("Slaves:"):
            last_var = "slaves"
            member = extract_numbered_substring(line)
            if member:
                current["slaves"].append(member)
            else:
                value = line[line.find("Slaves:") + len("Slaves:") :].strip()
                if value and value != "None":
                    current["slaves"].append(value)
        elif line.startswith("Verif./photo:"):
            last_var = "verif_photo"
            current["verif_photo"] = line.split("Verif./photo:")[1].strip()
        elif line.startswith("Discussion:"):
            last_var = "Discussion"
            current["discussion"] = line.split(":")[1].strip()
        elif line.startswith(_BOILER_PREFIXES):  # F1 (household.py:95-96)
            continue
        else:
            if last_var == "name_of_family_members":
                _append_member(current["name_of_family_members"], line)
            elif last_var == "name_of_non_family_members":
                _append_member(current["name_of_non_family_members"], line)
            elif last_var == "slaves":
                _append_member(current["slaves"], line)
            elif last_var == "declarant_name":
                current["declarant_name"] += " " + line
            elif last_var == "Discussion":
                current["discussion"] += " " + line
    if current["household_number"] is not None:
        data.append(current)
    return data


def get_occupation(line: str | None) -> str:
    """X9, household.py:145-168 (first containment match; 'priest of X'
    suffix capture)."""
    if line is None:
        return ""
    for occupation in OCCUPATIONS:
        if occupation in line:
            ret = occupation
            if "priest" in occupation:
                parts = line.split("priest of ")
                if len(parts) == 2:
                    ret += " of "
                    ret += parts[1].split(",")[0] if "," in parts[1] else parts[1]
            return ret
    return ""


def get_parsed_declarants(declarant_line: str | None) -> list[str]:
    """X12, household.py:288-393 — the declarant-name cascade with the
    reference's special cases preserved."""
    declarants: list[str] = []
    if declarant_line is None:
        return declarants
    if declarant_line.startswith(("Name", "Not")):
        return [declarant_line]
    if declarant_line.startswith("["):
        declarant_line = declarant_line[1:]

    # bug-for-bug (household.py:307-319): `matches` is initialized ONCE
    # before the segment loop, so a segment whose regex fails re-appends
    # the PREVIOUS segment's declarant (stale carry-over)
    matches = None
    for segment in declarant_line.split(";"):
        segment = segment.strip()
        if segment.lower().startswith("and "):
            segment = segment[4:].strip()
        m = _RE_DECLARANT.match(segment)
        if m:
            matches = m.group(1) or m.group(2) or m.group(3)
        if matches:
            if "d." in matches:
                matches = matches.split("d.")[0]
            declarants.append(matches)

    if not declarants:
        if "s." in declarant_line:
            declarants.append(declarant_line.split("s.")[0])
        if "d." in declarant_line:
            declarants.append(declarant_line.split("d.")[0])
        elif "]tion" in declarant_line:
            declarants.append(declarant_line)

    # special-case cascade (household.py:331-373)
    if "(s. Lykos)" in declarant_line or "s. Petos," in declarant_line:
        found = re.findall(r"(?<!\()\b(\w+)\b (?=[sd]\.)", declarant_line)
        declarants = list(found)
    elif "archos s. Apollonios" in declarant_line:
        declarants = [declarant_line.split("s.")[0].strip()]
    elif " and his children " in declarant_line:
        declarants.append(declarant_line.split(" and his children ")[1])
    elif ", all three sons of " in declarant_line:
        tmp = declarant_line.split(", all three sons of ")[0].split(", and")
        declarants = [
            tmp[0].split(",")[0].strip(),
            tmp[0].split(",")[1].strip(),
            tmp[1].strip(),
        ]
    elif "(nios?)" in declarant_line:
        declarants = [declarant_line.split(", sons of ")[0]]
    elif "alias" in declarant_line and " sons of " in declarant_line:
        if "," in declarant_line:
            sp = declarant_line.split(",")
            declarants = [
                sp[0],
                sp[2].split("s.")[0].split("and ")[1],
                sp[3].split(" both sons of")[0].split("and ")[1],
                sp[3].split(" both sons of")[0].split("and ")[2],
            ]
        else:
            declarants = [declarant_line.split(" sons of ")[0]]
    elif ", and " in declarant_line and " both sons of " in declarant_line:
        declarants.append(declarant_line.split(" both sons of ")[0].split(", and ")[1])
    elif " his sister, and " in declarant_line:
        declarants.append(declarant_line.split(" his sister, and ")[0].split(", ")[1])
        declarants.append(declarant_line.split(" his sister, and ")[1].split(" daughters of")[0])
    elif " and her children " in declarant_line:
        children = declarant_line.split(" and her children ")[1].split(", through their father ")
        declarants.extend(children)

    # and/comma re-split (household.py:375-391)
    out: list[str] = []
    for item in declarants:
        if "and" in item or "," in item:
            if "and" in item:
                out.extend(item.split(" and "))
            else:
                sp = item.split(",")
                if sp[1].strip() != "":
                    out.extend(item.split(","))
                else:
                    out.append(sp[0])
        else:
            out.append(item)
    return [s.strip() for s in out]


def generate_unique_id(household_number: str | None, declarants: list[str]) -> list[str]:
    """X14, household.py:172-179."""
    if not household_number or not declarants:
        return []
    return [f"{household_number}-d{i}" for i in range(1, len(declarants) + 1)]


def split_on_key(items: list[str], key: str) -> list[list[str]]:
    """M10, household.py:209-219."""
    idx = [i for i, item in enumerate(items) if item.startswith(key)]
    idx.append(len(items))
    return [items[idx[i] : idx[i + 1]] for i in range(len(idx) - 1)]


def split_household_number(household_number: str) -> list[str]:
    """X15, household.py:221-226."""
    parts = household_number.strip().replace(" ", "-").split("-")
    if len(parts) == 2:
        parts.append("")
    return parts


def split_provenance(provenance: str) -> list[str]:
    """X16, household.py:228-232."""
    parts = provenance.split(",")
    if len(parts) == 1:
        parts.append("")
    return parts


def check_broken(discussion: str | None) -> str:
    """X17, household.py:203-207."""
    if discussion and ("Broken" in discussion or "broken" in discussion):
        return "Yes"
    return "No"


def enrich(households: list[dict]) -> list[dict]:
    """Post-parse enrichment loop (household.py:408-435)."""
    for entry in households:
        entry["declarant_occupation"] = get_occupation(entry.get("declarant_name"))
        entry["declarant_name_parsed"] = get_parsed_declarants(entry.get("declarant_name"))
        entry["declarant_id"] = generate_unique_id(
            entry.get("household_number"), entry["declarant_name_parsed"]
        )
        # M10: degenerate households where all members landed in 'slaves'
        # (household.py:414-425)
        if not entry["name_of_family_members"] and entry["slaves"]:
            parts = split_on_key(entry["slaves"], "(1)")
            if len(parts) >= 3:
                entry["name_of_family_members"] = parts[0]
                entry["name_of_non_family_members"] = parts[1]
                entry["slaves"] = parts[2]
            elif len(parts) >= 2:
                entry["name_of_family_members"] = parts[0]
                entry["slaves"] = parts[1]
        # hard-coded household patches preserved for parity
        # (household.py:427-435)
        if "187-Ar-4" in str(entry.get("household_number")):
            parts = split_on_key(entry["name_of_family_members"], "(1)")
            entry["name_of_family_members"] = parts[0]
            entry["name_of_non_family_members"] = parts[1] if len(parts) > 1 else []
        if "131-He-2" in str(entry.get("household_number")):
            entry["provenance"] = "Ankyronpolis (Herakleopolite), 133"
    return households


def to_wide_rows(households: list[dict]) -> list[dict]:
    """prepare_first_csv (household.py:234-286): the wide household row."""
    rows = []
    for entry in households:
        hh = split_household_number(entry["household_number"] or "")
        prov = split_provenance(entry.get("provenance") or "")
        declarants = entry.get("declarant_name_parsed") or []
        row = {
            "household_number_year": hh[0],
            "household_number_location": hh[1] if len(hh) > 1 else "",
            "household_number_order": hh[2] if len(hh) > 2 else "",
            "source": entry.get("source"),
            "provenance": entry.get("provenance"),
            "provenance_place": prov[0],
            "provenance_year": prov[1],
        }
        for i in range(5):  # X19 first-5 spread (household.py:259-268)
            row[f"declarant_name_{i + 1}"] = declarants[i] if i < len(declarants) else ""
        row["declarant_ids"] = entry.get("declarant_id") or []
        row["declarant_occupation"] = entry.get("declarant_occupation")
        row["number_of_family_members"] = len(entry["name_of_family_members"])  # X18
        row["number_of_non_family_members"] = len(entry["name_of_non_family_members"])
        row["number_of_slaves"] = len(entry["slaves"])
        row["verif_photo"] = entry.get("verif_photo")
        row["discussion_text"] = entry.get("discussion")
        row["discussion_indicates_substantive_record_brokenness"] = check_broken(
            entry.get("discussion")
        )
        rows.append(row)
    return rows


def extract(payload: str) -> dict:
    """Full stage-A pass over one census page payload. Returns the wide
    household rows plus the raw member lists (input to census_persons)."""
    all_lines = payload.split("\n")
    lines = all_lines[2:]  # page-header skip (household.py:38)
    households = enrich(parse_households(lines))
    wide = to_wide_rows(households)
    kept = [
        ln
        for ln in lines
        if ln != "" and not ln.startswith(_BOILER_PREFIXES)
    ]
    return {
        "extracted_text": "\n".join(kept),
        "spans": [],
        "records": [{"households": wide, "raw": households}],
        "parse_errors": 0,
    }
