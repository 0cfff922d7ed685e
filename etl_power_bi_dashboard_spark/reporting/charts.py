"""Dashboard chart rendering (reference `notebooks/01_etl_process.ipynb`
cells 23/25 → `reports/dashboard/*.png`).

The reference renders four seaborn/matplotlib figures plus a 2×2 dashboard
composite. The renderer here is dependency-free: a small raster canvas
(RGB byte buffer, 5×7 bitmap font) encoded with the stdlib-only PNG
writer below. It draws the same charts — bars, axes, grid, tick labels,
titles — deterministically, so figure artifacts can be committed and
diffed.

Scale note: rendering is intentionally driver-side — every input is an
already-aggregated query result (≤ a few dozen rows collected from
`a2`/`a3`/`a4`/`a7`), never a data-path DataFrame. The heavy lifting
happened in the distributed aggregation; a chart of 12 bars has no
business running on executors.
"""

from __future__ import annotations

import os
import struct
import zlib

from pyspark.sql import SparkSession

# --- 5×7 bitmap font (rows of 5 bits, MSB = leftmost pixel) ---------------

_FONT: dict[str, tuple[int, ...]] = {
    "A": (0x0E, 0x11, 0x11, 0x1F, 0x11, 0x11, 0x11),
    "B": (0x1E, 0x11, 0x11, 0x1E, 0x11, 0x11, 0x1E),
    "C": (0x0E, 0x11, 0x10, 0x10, 0x10, 0x11, 0x0E),
    "D": (0x1E, 0x11, 0x11, 0x11, 0x11, 0x11, 0x1E),
    "E": (0x1F, 0x10, 0x10, 0x1E, 0x10, 0x10, 0x1F),
    "F": (0x1F, 0x10, 0x10, 0x1E, 0x10, 0x10, 0x10),
    "G": (0x0E, 0x11, 0x10, 0x17, 0x11, 0x11, 0x0F),
    "H": (0x11, 0x11, 0x11, 0x1F, 0x11, 0x11, 0x11),
    "I": (0x0E, 0x04, 0x04, 0x04, 0x04, 0x04, 0x0E),
    "J": (0x07, 0x02, 0x02, 0x02, 0x02, 0x12, 0x0C),
    "K": (0x11, 0x12, 0x14, 0x18, 0x14, 0x12, 0x11),
    "L": (0x10, 0x10, 0x10, 0x10, 0x10, 0x10, 0x1F),
    "M": (0x11, 0x1B, 0x15, 0x15, 0x11, 0x11, 0x11),
    "N": (0x11, 0x19, 0x15, 0x13, 0x11, 0x11, 0x11),
    "O": (0x0E, 0x11, 0x11, 0x11, 0x11, 0x11, 0x0E),
    "P": (0x1E, 0x11, 0x11, 0x1E, 0x10, 0x10, 0x10),
    "Q": (0x0E, 0x11, 0x11, 0x11, 0x15, 0x12, 0x0D),
    "R": (0x1E, 0x11, 0x11, 0x1E, 0x14, 0x12, 0x11),
    "S": (0x0F, 0x10, 0x10, 0x0E, 0x01, 0x01, 0x1E),
    "T": (0x1F, 0x04, 0x04, 0x04, 0x04, 0x04, 0x04),
    "U": (0x11, 0x11, 0x11, 0x11, 0x11, 0x11, 0x0E),
    "V": (0x11, 0x11, 0x11, 0x11, 0x11, 0x0A, 0x04),
    "W": (0x11, 0x11, 0x11, 0x15, 0x15, 0x1B, 0x11),
    "X": (0x11, 0x11, 0x0A, 0x04, 0x0A, 0x11, 0x11),
    "Y": (0x11, 0x11, 0x0A, 0x04, 0x04, 0x04, 0x04),
    "Z": (0x1F, 0x01, 0x02, 0x04, 0x08, 0x10, 0x1F),
    "0": (0x0E, 0x11, 0x13, 0x15, 0x19, 0x11, 0x0E),
    "1": (0x04, 0x0C, 0x04, 0x04, 0x04, 0x04, 0x0E),
    "2": (0x0E, 0x11, 0x01, 0x06, 0x08, 0x10, 0x1F),
    "3": (0x1F, 0x01, 0x02, 0x06, 0x01, 0x11, 0x0E),
    "4": (0x02, 0x06, 0x0A, 0x12, 0x1F, 0x02, 0x02),
    "5": (0x1F, 0x10, 0x1E, 0x01, 0x01, 0x11, 0x0E),
    "6": (0x06, 0x08, 0x10, 0x1E, 0x11, 0x11, 0x0E),
    "7": (0x1F, 0x01, 0x02, 0x04, 0x08, 0x08, 0x08),
    "8": (0x0E, 0x11, 0x11, 0x0E, 0x11, 0x11, 0x0E),
    "9": (0x0E, 0x11, 0x11, 0x0F, 0x01, 0x02, 0x0C),
    " ": (0, 0, 0, 0, 0, 0, 0),
    "-": (0, 0, 0, 0x0E, 0, 0, 0),
    ".": (0, 0, 0, 0, 0, 0x0C, 0x0C),
    ",": (0, 0, 0, 0, 0x0C, 0x04, 0x08),
    "_": (0, 0, 0, 0, 0, 0, 0x1F),
    "%": (0x19, 0x1A, 0x02, 0x04, 0x08, 0x0B, 0x13),
    "(": (0x02, 0x04, 0x08, 0x08, 0x08, 0x04, 0x02),
    ")": (0x08, 0x04, 0x02, 0x02, 0x02, 0x04, 0x08),
    "$": (0x04, 0x0F, 0x14, 0x0E, 0x05, 0x1E, 0x04),
    "/": (0x01, 0x01, 0x02, 0x04, 0x08, 0x10, 0x10),
    ":": (0, 0x0C, 0x0C, 0, 0x0C, 0x0C, 0),
}

# viridis-like color stops (dark purple → yellow), interpolated per bar
_VIRIDIS = [(68, 1, 84), (59, 82, 139), (33, 145, 140), (94, 201, 98), (253, 231, 37)]

_BG = (255, 255, 255)
_FG = (40, 40, 40)
_GRID = (210, 210, 210)


def _viridis(t: float) -> tuple[int, int, int]:
    t = min(max(t, 0.0), 1.0) * (len(_VIRIDIS) - 1)
    i = min(int(t), len(_VIRIDIS) - 2)
    f = t - i
    a, b = _VIRIDIS[i], _VIRIDIS[i + 1]
    return tuple(round(a[k] + (b[k] - a[k]) * f) for k in range(3))


class Canvas:
    """Minimal RGB raster with rect/text primitives."""

    def __init__(self, width: int, height: int, bg: tuple[int, int, int] = _BG):
        self.w, self.h = width, height
        self.buf = bytearray(bg * width * height)

    def rect(self, x0: int, y0: int, x1: int, y1: int, color: tuple[int, int, int]) -> None:
        x0, x1 = max(0, min(x0, x1)), min(self.w - 1, max(x0, x1))
        y0, y1 = max(0, min(y0, y1)), min(self.h - 1, max(y0, y1))
        r, g, b = color
        row = bytes((r, g, b)) * (x1 - x0 + 1)
        for y in range(y0, y1 + 1):
            off = (y * self.w + x0) * 3
            self.buf[off : off + len(row)] = row

    def hline(self, x0: int, x1: int, y: int, color: tuple[int, int, int]) -> None:
        self.rect(x0, y, x1, y, color)

    def vline(self, x: int, y0: int, y1: int, color: tuple[int, int, int]) -> None:
        self.rect(x, y0, x, y1, color)

    def text(
        self,
        x: int,
        y: int,
        s: str,
        color: tuple[int, int, int] = _FG,
        scale: int = 1,
    ) -> None:
        """Draw ``s`` with its top-left corner at (x, y)."""
        cx = x
        for ch in s.upper():
            glyph = _FONT.get(ch, _FONT[" "])
            for gy, bits in enumerate(glyph):
                for gx in range(5):
                    if bits & (1 << (4 - gx)):
                        self.rect(
                            cx + gx * scale,
                            y + gy * scale,
                            cx + gx * scale + scale - 1,
                            y + gy * scale + scale - 1,
                            color,
                        )
            cx += 6 * scale

    def blit(self, other: "Canvas", x: int, y: int) -> None:
        # clamp BOTH axes: an x-overlapping row would otherwise wrap into
        # the next raster row (and grow the buffer past w*h*3 on the
        # last one); negative x would index from the buffer's end
        sx0 = max(0, -x)
        sx1 = min(other.w, self.w - x)
        if sx1 <= sx0:
            return
        for sy in range(other.h):
            if not 0 <= y + sy < self.h:
                continue
            src = (sy * other.w + sx0) * 3
            dst = ((y + sy) * self.w + x + sx0) * 3
            n = (sx1 - sx0) * 3
            self.buf[dst : dst + n] = other.buf[src : src + n]

    def to_png(self) -> bytes:
        def chunk(tag: bytes, data: bytes) -> bytes:
            return (
                struct.pack(">I", len(data))
                + tag
                + data
                + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
            )

        raw = b"".join(
            b"\x00" + bytes(self.buf[y * self.w * 3 : (y + 1) * self.w * 3])
            for y in range(self.h)
        )
        ihdr = struct.pack(">IIBBBBB", self.w, self.h, 8, 2, 0, 0, 0)
        return (
            b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(raw, 9))
            + chunk(b"IEND", b"")
        )

    def save(self, path: str) -> None:
        with open(path, "wb") as f:
            f.write(self.to_png())


def _fmt(v: float) -> str:
    """Compact tick label: 1234567 → '1.2M'."""
    for div, suf in ((1e9, "B"), (1e6, "M"), (1e3, "K")):
        if abs(v) >= div:
            return f"{v / div:.1f}{suf}"
    return f"{v:.0f}" if v == int(v) else f"{v:.1f}"


def _text_w(s: str, scale: int = 1) -> int:
    return len(s) * 6 * scale


def render_bar_chart(
    labels: list[str],
    values: list[float],
    title: str,
    xlabel: str,
    ylabel: str,
    path: str | None = None,
    horizontal: bool = False,
    width: int = 640,
    height: int = 400,
) -> "Canvas":
    """Render a bar chart with the deterministic built-in raster
    described in the module docstring; writes a PNG when ``path`` is
    given."""
    c = Canvas(width, height)
    if not values:
        # empty aggregate (e.g. a filter matched nothing): emit a titled
        # placeholder instead of crashing the whole dashboard build
        c.text(max((width - _text_w(title, 2)) // 2, 4), 8, title, scale=2)
        c.text(
            max((width - _text_w("NO DATA")) // 2, 4), height // 2, "NO DATA"
        )
        if path:
            c.save(path)
        return c
    vmax = max(max(values), 1e-12)
    n = len(values)

    top, right = 34, 16
    left = 150 if horizontal else 72
    bottom = 58
    px0, py0 = left, top
    px1, py1 = width - right, height - bottom

    c.text(max((width - _text_w(title, 2)) // 2, 4), 8, title, scale=2)

    ticks = 5
    if horizontal:
        for i in range(ticks + 1):
            tv = vmax * i / ticks
            x = px0 + round((px1 - px0) * i / ticks)
            c.vline(x, py0, py1, _GRID)
            lbl = _fmt(tv)
            c.text(x - _text_w(lbl) // 2, py1 + 6, lbl)
        band = (py1 - py0) / n
        for i, (lab, v) in enumerate(zip(labels, values)):
            y0 = py0 + round(i * band) + 3
            y1 = py0 + round((i + 1) * band) - 3
            x1 = px0 + round((px1 - px0) * v / vmax)
            c.rect(px0, y0, max(x1, px0), y1, _viridis(i / max(n - 1, 1)))
            lab_s = lab[:22]
            c.text(px0 - 6 - _text_w(lab_s), (y0 + y1) // 2 - 3, lab_s)
    else:
        for i in range(ticks + 1):
            tv = vmax * i / ticks
            y = py1 - round((py1 - py0) * i / ticks)
            c.hline(px0, px1, y, _GRID)
            lbl = _fmt(tv)
            c.text(px0 - 6 - _text_w(lbl), y - 3, lbl)
        band = (px1 - px0) / n
        for i, (lab, v) in enumerate(zip(labels, values)):
            x0 = px0 + round(i * band) + 3
            x1 = px0 + round((i + 1) * band) - 3
            y0 = py1 - round((py1 - py0) * v / vmax)
            c.rect(x0, min(y0, py1), x1, py1, _viridis(i / max(n - 1, 1)))
            lab_s = lab[:10]
            c.text(
                (x0 + x1) // 2 - _text_w(lab_s) // 2, py1 + 6, lab_s
            )

    c.hline(px0, px1, py1, _FG)
    c.vline(px0, py0, py1, _FG)
    c.text(max((width - _text_w(xlabel)) // 2, 4), height - 16, xlabel)
    c.text(4, py0 - 12, ylabel)

    if path:
        c.save(path)
    return c


_MONTHS = [
    "Jan", "Fev", "Mar", "Abr", "Mai", "Jun",
    "Jul", "Ago", "Set", "Out", "Nov", "Dez",
]


def build_dashboard(spark: SparkSession, sf_dir: str, out_dir: str) -> list[str]:
    """Render the reference dashboard figures (nb cells 23/25) from the
    engine's aggregate queries and return the written paths:

    - ``sales_by_month.png``   ← `a2_sales_by_month` (summed across years)
    - ``sales_by_category.png``← `a3_sales_by_category` top-10, horizontal
    - ``sales_by_state.png``   ← `a4_sales_by_state` top-10, horizontal
    - ``review_distribution.png`` ← `a7_review_distribution` countplot
    - ``dashboard.png``        ← 2×2 composite of the four (cell 25)

    Each chart consumes a COLLECTED aggregate (≤ tens of rows); the
    distributed work is the underlying registry query.
    """
    from ..plans import REGISTRY

    os.makedirs(out_dir, exist_ok=True)
    paths: list[str] = []

    monthly: dict[int, float] = {}
    for r in REGISTRY["a2_sales_by_month"].spark(spark, sf_dir).collect():
        monthly[int(r.month)] = monthly.get(int(r.month), 0.0) + float(r.total_sales)
    months = sorted(monthly)
    c_month = render_bar_chart(
        [_MONTHS[m - 1] for m in months],
        [monthly[m] for m in months],
        "Vendas Totais por Mes",
        "Mes",
        "Vendas (R$)",
        os.path.join(out_dir, "sales_by_month.png"),
    )
    paths.append(os.path.join(out_dir, "sales_by_month.png"))

    def top10_chart(registry_key, label_field, title, ylabel, fname):
        rows = sorted(
            REGISTRY[registry_key].spark(spark, sf_dir).collect(),
            key=lambda r: -float(r.total_sales),
        )[:10]
        path = os.path.join(out_dir, fname)
        canvas = render_bar_chart(
            [getattr(r, label_field) for r in rows],
            [float(r.total_sales) for r in rows],
            title,
            "Vendas (R$)",
            ylabel,
            path,
            horizontal=True,
        )
        paths.append(path)
        return canvas

    c_cat = top10_chart(
        "a3_sales_by_category", "category",
        "Top 10 Categorias por Vendas", "Categoria",
        "sales_by_category.png",
    )
    c_state = top10_chart(
        "a4_sales_by_state", "state",
        "Top 10 Estados por Vendas", "Estado",
        "sales_by_state.png",
    )

    reviews = sorted(
        REGISTRY["a7_review_distribution"].spark(spark, sf_dir).collect(),
        key=lambda r: r[0],
    )
    c_rev = render_bar_chart(
        [str(r[0]) for r in reviews],
        [float(r[1]) for r in reviews],
        "Distribuicao de Avaliacoes",
        "Pontuacao",
        "Avaliacoes",
        os.path.join(out_dir, "review_distribution.png"),
    )
    paths.append(os.path.join(out_dir, "review_distribution.png"))

    combo = Canvas(c_month.w + c_cat.w, c_month.h + c_rev.h)
    combo.blit(c_month, 0, 0)
    combo.blit(c_cat, c_month.w, 0)
    combo.blit(c_state, 0, c_month.h)
    combo.blit(c_rev, c_state.w, c_month.h)
    combo.save(os.path.join(out_dir, "dashboard.png"))
    paths.append(os.path.join(out_dir, "dashboard.png"))
    return paths
