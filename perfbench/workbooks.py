"""Seeded upload workbooks and their expected results.

Each workbook has the reference sample's three sheets (Transactions,
Customers, Products) and its dirty-data traits: duplicate customer ids
with changed addresses later in the sheet, malformed blob rows, garbage
amounts and transactions that name unknown customers. A seeded share
of customers moves between uploads, so every upload after the first
also logs address changes against the warehouse state.

The files are written with this module's own zip/XML writer (shared
strings, numeric cells), so ingest reads them through whichever .xlsx
decoder the engine picks. The expected results of each upload are
computed here in plain Python from the same rows: the address-change
count, the reject count, every customer's half-even-rounded total and
the top spender per category.
"""

from __future__ import annotations

import random
import zipfile
from dataclasses import dataclass, field
from decimal import ROUND_HALF_EVEN, Decimal, InvalidOperation
from xml.sax.saxutils import escape

PRODUCTS = [
    ("P001", "Protein Powder", "Supplements", 55),
    ("P002", "Yoga Mat", "Fitness", 40),
    ("P003", "Water Bottle", "Accessories", 25),
    ("P004", "Dumbbells Set", "Equipment", 100),
    ("P005", "Treadmill", "Equipment", 950),
    ("P006", "Resistance Bands", "Fitness", 30),
    ("P007", "Multivitamins", "Supplements", 20),
    ("P008", "Gym Gloves", "Accessories", 15),
]
PAYMENT_TYPES = ["Debit Card", "Cash", "Bank Transfer", "Credit Card"]
TOWNS = ["Sydney NSW", "Dubbo NSW", "Perth WA", "Hobart TAS", "Cairns QLD"]
STREETS = ["First St", "Jennifer Squares", "Relocation Rd", "King St", "Bay Rd"]
GARBAGE_AMOUNTS = ["N/A", "n/a", "--", "tbd"]
MALFORMED = [
    "no braces at all",
    "{too_few_parts}",
    "missing_close_brace {a_b",
    "{C9999_only_four_parts}",
]
CENT = Decimal("0.01")


@dataclass
class Expected:
    """What the engine must report for one upload."""

    changes: int
    rejects: int
    customer_totals: dict[str, Decimal]
    top_spenders: dict[str, tuple[Decimal, set[str]]]


@dataclass
class UploadStream:
    """Successive workbooks of one closed-loop client.

    ``address`` mirrors the warehouse's customer dimension as the engine
    should hold it after every upload generated so far."""

    seed: int
    n_customers: int = 100
    n_txns: int = 1000
    n_dups: int = 4
    n_malformed: int = 3
    move_rate: float = 0.1
    dangling_rate: float = 0.01
    garbage_rate: float = 0.005
    address: dict[str, str] = field(default_factory=dict)
    count: int = 0

    def __post_init__(self) -> None:
        self.rng = random.Random(self.seed)
        self.ids = [f"C{i:04d}" for i in range(1, self.n_customers + 1)]
        self.profile = {
            cid: (
                f"Customer {self.rng.choice('ABCDEFGH')}. {cid[1:]}",
                f"user{cid[1:]}@example.com",
                f"19{self.rng.randint(50, 99)}-{self.rng.randint(1, 12):02d}-"
                f"{self.rng.randint(1, 28):02d}",
                f"{self.rng.randint(43000, 45000)}.{self.rng.randint(0, 9999999):07d}",
            )
            for cid in self.ids
        }

    def _new_address(self) -> str:
        r = self.rng
        return f"{r.randint(1, 999)} {r.choice(STREETS)}, {r.choice(TOWNS)} {r.randint(1000, 9999)}"

    def _blob(self, cid: str, address: str) -> str:
        name, email, dob, created = self.profile[cid]
        return "{" + "_".join([cid, name, email, dob, address, created]) + "}"

    def next_workbook(self) -> tuple[dict[str, list[list]], Expected]:
        """The next workbook's sheets (rows of cells) and its expected
        results. Advances the mirrored dimension state."""
        r = self.rng
        self.count += 1
        blobs: list[str] = ["raw"]  # header row: not a blob, so a reject
        for cid in self.ids:
            addr = self.address.get(cid)
            if addr is None or r.random() < self.move_rate:
                addr = self._new_address()
            blobs.append(self._blob(cid, addr))
        for cid in r.sample(self.ids, self.n_dups):
            blobs.append(self._blob(cid, self._new_address()))
        for i in range(self.n_malformed):
            blobs.insert(r.randint(1, len(blobs)), MALFORMED[(self.count + i) % len(MALFORMED)])

        txns: list[list] = []
        has_valid: set[tuple[str, str]] = set()
        for i in range(1, self.n_txns + 1):
            cid = r.choice(self.ids)
            if r.random() < self.dangling_rate:
                cid = f"C{self.n_customers + r.randint(1, 50):04d}"
            code, _, category, price = r.choice(PRODUCTS)
            amount: float | str = round(price * r.uniform(0.8, 1.2), 2)
            # never leave a (customer, category) pair with only garbage
            # amounts: its total would be NULL, which no report ranks
            if (cid, category) in has_valid and r.random() < self.garbage_rate:
                amount = r.choice(GARBAGE_AMOUNTS)
            else:
                has_valid.add((cid, category))
            txns.append(
                [f"TXN{i:05d}", cid, r.randint(44927, 45227), code, amount, r.choice(PAYMENT_TYPES)]
            )

        sheets = {
            "Transactions": [
                ["transaction_id", "customer_id", "transaction_date", "product_code",
                 "amount", "payment_type"]
            ] + txns,
            "Customers": [[b] for b in blobs],
            "Products": [["product_code", "product_name", "category", "unit_price"]]
            + [list(p) for p in PRODUCTS],
        }
        return sheets, self._expect(blobs, txns)

    def _expect(self, blobs: list[str], txns: list[list]) -> Expected:
        changes = rejects = 0
        batch: dict[str, tuple[str, str]] = {}  # last occurrence wins
        for raw in blobs:
            parts = parse_blob(raw)
            if parts is None:
                rejects += 1
                continue
            cid, name, address = parts[0], parts[1], parts[4]
            prev = self.address.get(cid)
            if prev is not None and prev != address:
                changes += 1
            self.address[cid] = address
            batch[cid] = (name, address)

        categories = {code: cat for code, _, cat, _ in PRODUCTS}
        pair_totals: dict[tuple[str, str], Decimal] = {}
        for _, cid, _, code, amount, _ in txns:
            if cid not in batch or code not in categories:
                continue
            value = to_decimal(amount)
            if value is not None:
                key = (cid, categories[code])
                pair_totals[key] = pair_totals.get(key, Decimal(0)) + value

        customer_totals: dict[str, Decimal] = {}
        for (cid, _), v in pair_totals.items():
            customer_totals[cid] = customer_totals.get(cid, Decimal(0)) + v
        customer_totals = {
            cid: v.quantize(CENT, rounding=ROUND_HALF_EVEN) for cid, v in customer_totals.items()
        }
        top: dict[str, tuple[Decimal, set[str]]] = {}
        for (cid, cat), v in pair_totals.items():
            best = top.get(cat)
            if best is None or v > best[0]:
                top[cat] = (v, {cid})
            elif v == best[0]:
                best[1].add(cid)
        return Expected(
            changes=changes,
            rejects=rejects,
            customer_totals=customer_totals,
            top_spenders=top,
        )


def parse_blob(raw: str | None) -> list[str] | None:
    """The engine's customer-blob contract: ``{id_name_email_dob_address_created}``
    with exactly six underscore-separated fields, else a reject."""
    line = (raw or "").strip(" ")
    if not (len(line) >= 2 and line.startswith("{") and line.endswith("}")):
        return None
    parts = line[1:-1].split("_", 5)
    return parts if len(parts) == 6 else None


def to_decimal(amount: float | str) -> Decimal | None:
    """Amount as an exact decimal, or None for the garbage strings
    (the engine coerces them to NULL)."""
    try:
        return Decimal(str(amount))
    except InvalidOperation:
        return None


# -- .xlsx writer ---------------------------------------------------------

_MAIN_NS = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
_REL_NS = "http://schemas.openxmlformats.org/officeDocument/2006/relationships"
_PKG_NS = "http://schemas.openxmlformats.org/package/2006/relationships"
_XML_DECL = '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'


def _col_letters(idx: int) -> str:
    out = ""
    idx += 1
    while idx:
        idx, rem = divmod(idx - 1, 26)
        out = chr(65 + rem) + out
    return out


def write_workbook(path: str, sheets: dict[str, list[list]]) -> None:
    """Minimal SpreadsheetML package: numbers as numeric cells, text
    through the shared-string table, as spreadsheet programs save it."""
    shared: dict[str, int] = {}
    sheet_xml: list[str] = []
    for rows in sheets.values():
        out = []
        for ri, row in enumerate(rows, start=1):
            cells = []
            for ci, v in enumerate(row):
                ref = f"{_col_letters(ci)}{ri}"
                if isinstance(v, (int, float)):
                    cells.append(f'<c r="{ref}"><v>{v}</v></c>')
                else:
                    sid = shared.setdefault(str(v), len(shared))
                    cells.append(f'<c r="{ref}" t="s"><v>{sid}</v></c>')
            out.append(f'<row r="{ri}">{"".join(cells)}</row>')
        sheet_xml.append(
            f'{_XML_DECL}<worksheet xmlns="{_MAIN_NS}"><sheetData>{"".join(out)}'
            "</sheetData></worksheet>"
        )
    names = list(sheets)
    sst = "".join(f'<si><t xml:space="preserve">{escape(s)}</t></si>' for s in shared)
    ct_sheet = "application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"
    parts = {
        "[Content_Types].xml": (
            f'{_XML_DECL}<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
            '<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>'
            '<Default Extension="xml" ContentType="application/xml"/>'
            '<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>'
            '<Override PartName="/xl/sharedStrings.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sharedStrings+xml"/>'
            + "".join(
                f'<Override PartName="/xl/worksheets/sheet{i}.xml" ContentType="{ct_sheet}"/>'
                for i in range(1, len(names) + 1)
            )
            + "</Types>"
        ),
        "_rels/.rels": (
            f'{_XML_DECL}<Relationships xmlns="{_PKG_NS}"><Relationship Id="rId1" '
            f'Type="{_REL_NS}/officeDocument" Target="xl/workbook.xml"/></Relationships>'
        ),
        "xl/workbook.xml": (
            f'{_XML_DECL}<workbook xmlns="{_MAIN_NS}" xmlns:r="{_REL_NS}"><sheets>'
            + "".join(
                f'<sheet name="{escape(n)}" sheetId="{i}" r:id="rId{i}"/>'
                for i, n in enumerate(names, start=1)
            )
            + "</sheets></workbook>"
        ),
        "xl/_rels/workbook.xml.rels": (
            f'{_XML_DECL}<Relationships xmlns="{_PKG_NS}">'
            + "".join(
                f'<Relationship Id="rId{i}" Type="{_REL_NS}/worksheet" '
                f'Target="worksheets/sheet{i}.xml"/>'
                for i in range(1, len(names) + 1)
            )
            + f'<Relationship Id="rId{len(names) + 1}" Type="{_REL_NS}/sharedStrings" '
            'Target="sharedStrings.xml"/></Relationships>'
        ),
        "xl/sharedStrings.xml": (
            f'{_XML_DECL}<sst xmlns="{_MAIN_NS}" count="{len(shared)}" '
            f'uniqueCount="{len(shared)}">{sst}</sst>'
        ),
    }
    for i, xml in enumerate(sheet_xml, start=1):
        parts[f"xl/worksheets/sheet{i}.xml"] = xml
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as z:
        for name, data in parts.items():
            z.writestr(name, data)
