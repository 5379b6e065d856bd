"""Seeded transcript generators for the KG benchmark.

Every input the benchmark feeds the engine is made here, from the
``--seed`` argument alone, and handed to the engine only as parquet
files with the transcripts schema ``(conv_id string, turn_idx int,
role string, text string, tool string, ts timestamp)``.  The pools and
templates below are this directory's own copies, so an edit to the
engine's ``sources/transcripts.py`` cannot change a workload.

Two vocabularies:

* :func:`repeat_rows` — the bench templates over a fixed Zipf-skewed
  vocabulary (about one text in five is distinct at 80k turns, under 100
  linkable strings).  Byte-for-byte the rows ``sources.transcripts``
  makes for the same ``(seed, conv_idx)``, so ``expected_triples`` is its
  golden set.
* :func:`vocab_rows` — near-unique isnad turns over a scholar vocabulary
  of ``n_names`` names: gazetteer names in diacritic / hamza /
  ta-marbuta spellings (exact rung), one-letter typos of long gazetteer
  names (fuzzy rung) and generated unseen names in four shapes — nasab,
  kunya, ``ابن`` and bare name + nisba — (new rung), so no single name
  particle holds most of the unseen names.
"""

from __future__ import annotations

import random
from pathlib import Path
from typing import Iterable, List, Tuple

import pyarrow as pa
import pyarrow.parquet as pq

ARROW_SCHEMA = pa.schema([
    ("conv_id", pa.string()),
    ("turn_idx", pa.int32()),
    ("role", pa.string()),
    ("text", pa.string()),
    ("tool", pa.string()),
    ("ts", pa.timestamp("us", tz="UTC")),
])
EPOCH_BASE = 1_767_225_600  # 2026-01-01T00:00:00Z
Row = Tuple[str, int, str, str, str, int]

# -- repeat vocabulary: the engine's bench templates ------------------------

CHAIN_SCHOLARS = (
    "عبد الله بن يوسف", "مالك", "نافع", "ابن عمر", "أبو هريرة", "الزهري",
    "سفيان بن عيينة", "يحيى بن سعيد", "عائشة", "أنس بن مالك",
)
AUTHORS = ("البخاري", "مسلم", "الترمذي", "أبو داود")
CONCEPTS = ("الربا", "التوحيد", "الصلاة", "الزكاة", "الصيام", "النية")
PLACES = ("المدينة", "مكة", "بدر", "الكوفة")
BOOKS = ("صحيح البخاري", "صحيح مسلم", "الموطأ")
NOISE_TEXTS = (
    "please search the hadith corpus for narration chains",
    "tool returned 3 documents, summarizing now",
    "ok thanks, continue with the next conversation",
    "Hello, world! 123",
)
SKEW = 1.1


def _zipf(n: int) -> List[float]:
    return [1.0 / (rank ** SKEW) for rank in range(1, n + 1)]


_CHAIN_W = _zipf(len(CHAIN_SCHOLARS))
_AUTHOR_W = _zipf(len(AUTHORS))


def repeat_rows(seed: int, conv_idx: int, turns_per_conv: int) -> List[Row]:
    """One conversation of the repetitive vocabulary."""
    rng = random.Random(f"islamic-ner-synth:{seed}:{conv_idx}")
    conv_id = f"conv_{conv_idx:09d}"
    rows = []
    for turn_idx in range(turns_per_conv):
        kind = rng.random()
        role, tool = "assistant", None
        if kind < 0.12:
            text = rng.choice(NOISE_TEXTS)
            role = rng.choice(("user", "tool"))
            tool = "search" if role == "tool" else None
        elif kind < 0.55:
            k = rng.randint(2, 4)
            chain: List[str] = []
            while len(chain) < k:
                pick = rng.choices(CHAIN_SCHOLARS, weights=_CHAIN_W, k=1)[0]
                if pick not in chain:
                    chain.append(pick)
            text = rng.choice(("حدثنا", "اخبرنا")) + " " + " عن ".join(chain)
        elif kind < 0.68:
            text = "رواه " + rng.choices(AUTHORS, weights=_AUTHOR_W, k=1)[0]
        elif kind < 0.80:
            text = f"حديث رقم {rng.randint(1, 9999)} " + rng.choice(CONCEPTS)
        elif kind < 0.88:
            text = "نهى عن " + rng.choice(CONCEPTS)
        elif kind < 0.95:
            scholar = rng.choices(CHAIN_SCHOLARS, weights=_CHAIN_W, k=1)[0]
            text = f"سمعت {scholar} في " + rng.choice(PLACES)
        else:
            s1 = rng.choices(CHAIN_SCHOLARS, weights=_CHAIN_W, k=1)[0]
            author, book, concept = (
                rng.choice(AUTHORS), rng.choice(BOOKS), rng.choice(CONCEPTS)
            )
            text = f"حدثنا {s1} قال {author} في {book} حديث رقم {rng.randint(1, 999)} {concept}"
        ts = EPOCH_BASE + (conv_idx % 100_000) * 3600 + turn_idx * 60
        rows.append((conv_id, turn_idx, role, text, tool, ts))
    return rows


# -- vocabulary-heavy isnads --------------------------------------------------

# gazetteer scholar spellings (normalized forms fold to a gazetteer variant)
GAZETTEER_SCHOLARS = (
    "محمد بن إسماعيل البخاري", "مسلم بن الحجاج", "مالك بن أنس", "نافع",
    "عبد الله بن يوسف", "أبو هريرة", "ابن عمر", "عائشة", "أنس بن مالك",
    "أحمد بن حنبل", "الترمذي", "النسائي", "ابن ماجه", "أبو داود", "النووي",
    "الزهري", "سفيان بن عيينة", "يحيى بن سعيد", "أبو عبد الله البخاري",
    "أبو الحسين مسلم",
)
# long names only: one substituted letter keeps the ratio >= 0.8
TYPO_BASES = tuple(n for n in GAZETTEER_SCHOLARS if len(n.replace(" ", "")) >= 10)
TASHKEEL = "ًٌٍَُِّْ"
ALIF_FORMS = "اأإآ"
LETTERS = "بتثجحخدذرزسشصضطظعغفقكلمنهوي"
FIRST_NAMES = (
    "زياد", "مروان", "عكرمة", "قتادة", "مجاهد", "طاوس", "عطاء", "ربيعة",
    "حماد", "شعبة", "الأعمش", "منصور", "هشام", "عروة", "سالم", "القاسم",
    "جرير", "وكيع", "الحسن", "إبراهيم", "الأوزاعي", "الليث", "ثابت", "حميد",
    "عوف", "خالد", "بشر", "زهير", "عاصم", "الشعبي", "سعيد", "عمرو", "عثمان",
    "جابر", "شريك", "إسحاق", "معمر", "يونس", "عقيل", "بكير",
)
NISBAS = (
    "الكوفي", "البصري", "المدني", "المكي", "الشامي", "المصري", "الواسطي",
    "البغدادي", "الخراساني", "اليماني", "الرازي", "الحمصي", "الأنصاري",
    "القرشي", "التميمي", "الأزدي", "الثقفي", "الهمداني", "الكندي", "الليثي",
)


def _exact_variant(rng: random.Random) -> str:
    """A gazetteer name in another raw spelling of the same normal form."""
    name = list(rng.choice(GAZETTEER_SCHOLARS))
    for i, ch in enumerate(name):
        if ch in ALIF_FORMS and rng.random() < 0.5:
            name[i] = rng.choice(ALIF_FORMS)
        elif ch == "ة" and rng.random() < 0.5:
            name[i] = "ه"
    out = []
    for ch in name:
        out.append(ch)
        if ch != " " and rng.random() < 0.3:
            out.append(rng.choice(TASHKEEL))
    return "".join(out)


def _fuzzy_variant(rng: random.Random) -> str:
    """A one-letter substitution typo of a long gazetteer name."""
    name = list(rng.choice(TYPO_BASES))
    positions = [i for i, ch in enumerate(name) if ch in LETTERS]
    i = rng.choice(positions)
    name[i] = rng.choice([c for c in LETTERS if c != name[i]])
    return "".join(name)


def _nasab(rng: random.Random) -> str:
    return f"{rng.choice(FIRST_NAMES)} بن {rng.choice(FIRST_NAMES)} {rng.choice(NISBAS)}"


def _kunya(rng: random.Random) -> str:
    return f"أبو {rng.choice(FIRST_NAMES)} {rng.choice(NISBAS)}"


def _ibn(rng: random.Random) -> str:
    return f"ابن {rng.choice(FIRST_NAMES)} {rng.choice(NISBAS)}"


def _bare(rng: random.Random) -> str:
    return f"{rng.choice(FIRST_NAMES)} {rng.choice(NISBAS)}"


# pool shares: exact-rung spellings, fuzzy-rung typos, then unseen names
# in four shapes.  Linking blocks unseen names by shared token, so the
# shapes spread candidate pairs over the particle blocks (بن, أبو, ابن),
# the first-name blocks and the nisba blocks; at the pool sizes used
# every block stays far below ``linking.MAX_BLOCK_SIZE``.
VOCAB_MIX = (
    (_exact_variant, 0.15), (_fuzzy_variant, 0.25),
    (_nasab, 0.2), (_kunya, 0.13), (_ibn, 0.13), (_bare, 0.14),
)


def vocab_pool(seed: int, n_names: int) -> List[str]:
    """``n_names`` distinct scholar spellings in the ``VOCAB_MIX``
    proportions.  The counts per kind are exact, so every seed gives the
    linking ladder about the same amount of work."""
    rng = random.Random(f"kgbench-vocab:{seed}")
    pool: List[str] = []
    for maker, share in VOCAB_MIX:
        made: set = set()
        while len(made) < int(n_names * share):
            made.add(maker(rng))
        pool.extend(sorted(made))
    return pool


def vocab_rows(
    seed: int, conv_idx: int, turns_per_conv: int, pool: List[str]
) -> List[Row]:
    """One conversation of near-unique isnad turns over ``pool``."""
    rng = random.Random(f"kgbench-vocab:{seed}:{conv_idx}")
    conv_id = f"vconv_{conv_idx:09d}"
    rows = []
    for turn_idx in range(turns_per_conv):
        chain = rng.sample(pool, rng.randint(2, 4))
        text = rng.choice(("حدثنا", "اخبرنا")) + " " + " عن ".join(chain)
        ts = EPOCH_BASE + (conv_idx % 100_000) * 3600 + turn_idx * 60
        rows.append((conv_id, turn_idx, "assistant", text, None, ts))
    return rows


# -- parquet -----------------------------------------------------------------


def to_table(rows: Iterable[Row]) -> pa.Table:
    cols = list(zip(*rows)) or [[]] * 6
    return pa.table(
        [
            pa.array(cols[0], pa.string()),
            pa.array(cols[1], pa.int32()),
            pa.array(cols[2], pa.string()),
            pa.array(cols[3], pa.string()),
            pa.array(cols[4], pa.string()),
            pa.array([t * 1_000_000 for t in cols[5]], pa.int64()).cast(
                pa.timestamp("us", tz="UTC")
            ),
        ],
        schema=ARROW_SCHEMA,
    )


def write_parquet(
    rows: List[Row], path: Path, n_files: int = 1, turns_per_conv: int = 1
) -> int:
    """Write ``rows`` as ``n_files`` parquet files under directory
    ``path``, whole conversations per file; returns bytes written."""
    path.mkdir(parents=True, exist_ok=True)
    per_file = -(-len(rows) // n_files)
    per_file = -(-per_file // turns_per_conv) * turns_per_conv
    total = 0
    for i in range(n_files):
        chunk = rows[i * per_file:(i + 1) * per_file]
        if not chunk:
            continue
        target = path / f"part-{i:05d}.parquet"
        pq.write_table(to_table(chunk), target)
        total += target.stat().st_size
    return total


def input_profile(rows: List[Row]) -> dict:
    """Turn count and distinct-text ratio of one generated input."""
    texts = [r[3] for r in rows]
    return {
        "turns": len(rows),
        "text_bytes": sum(len(t.encode()) for t in texts),
        "distinct_text_ratio": round(len(set(texts)) / max(1, len(texts)), 4),
    }
