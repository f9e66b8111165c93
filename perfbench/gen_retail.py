"""Seeded generator for an Online-Retail-shaped invoice-line CSV.

The paper's dataset (UCI Online Retail) has 541,909 invoice lines over 305
trading days (1 Dec 2010 - 9 Dec 2011, no Saturdays), about 4,000 stock
codes (some non-numeric, such as POST or 85123A), 38 countries with about
91% of lines from the United Kingdom, about 1% exact duplicate lines,
cancelled invoices ("C" prefix, negative quantities) and zero prices. This
module writes a CSV with that shape and header, dates in "M/d/yy H:mm" form,
and returns the figures the forecast flow must reproduce from it.

The same seed gives a byte-identical file.
"""

import datetime as dt

import numpy as np

PAPER_LINES = 541_909
COLUMNS = ["InvoiceNo", "StockCode", "Description", "Quantity", "InvoiceDate",
           "UnitPrice", "CustomerID", "Country"]
SPECIAL_CODES = ["POST", "M", "D", "DOT", "C2", "S", "PADS", "CRUK", "AMAZONFEE",
                 "BANK CHARGES"]
COUNTRIES = ["United Kingdom"] + [f"Country{i:02d}" for i in range(1, 38)]
DESC_WORDS = ("WHITE RED HEART HANGING LIGHT HOLDER METAL LANTERN CREAM CUPID "
              "HEARTS COAT HANGER KNITTED UNION FLAG HOT WATER BOTTLE SET OF "
              "TEA TOWELS VINTAGE JUMBO BAG PINK BLUE GLASS STAR CANDLE").split()
N_CODES = 4_000
N_CUSTOMERS = 4_372
LINES_PER_INVOICE = 21
UK_SHARE = 0.91
DUP_SHARE = 0.01
RETURN_SHARE = 0.02
ZERO_PRICE_SHARE = 0.005
NO_CUSTOMER_SHARE = 0.25
FIRST_DAY = dt.date(2010, 12, 1)
LAST_DAY = dt.date(2011, 12, 9)
# Closed days besides Saturdays: the winter break and the spring bank
# holidays, which leave exactly 305 trading days as in the paper's data.
CLOSED = ([dt.date(2010, 12, d) for d in range(23, 32)]
          + [dt.date(2011, 1, d) for d in range(1, 4)]
          + [dt.date(2011, 4, 22), dt.date(2011, 4, 25), dt.date(2011, 4, 29),
             dt.date(2011, 5, 2), dt.date(2011, 5, 30), dt.date(2011, 8, 29)])


def trading_days():
    days = []
    d = FIRST_DAY
    while d <= LAST_DAY:
        if d.weekday() != 5 and d not in CLOSED:
            days.append(d)
        d += dt.timedelta(days=1)
    return days


def _stock_codes(rng):
    numeric = rng.choice(np.arange(10_000, 100_000), N_CODES - len(SPECIAL_CODES), replace=False)
    suffix = rng.random(numeric.size) < 0.2
    letters = np.array(list("ABCDEFGHJKLMNPRSTUVW"))[rng.integers(0, 20, numeric.size)]
    codes = [f"{c}{l}" if s else str(c) for c, s, l in zip(numeric, suffix, letters)]
    return codes + SPECIAL_CODES


def _groups(*cols):
    """Stable order that groups equal rows of the columns, and a flag for the
    first row of each group in that order (its sum counts distinct rows)."""
    order = np.lexsort(cols[::-1])
    rows = np.stack([c[order] for c in cols])
    first = np.r_[True, np.any(rows[:, 1:] != rows[:, :-1], axis=0)]
    return order, first


def generate(seed, lines=PAPER_LINES):
    """Returns (csv_text, stats) for `lines` raw data lines."""
    rng = np.random.default_rng(seed)
    days = trading_days()
    codes = _stock_codes(rng)
    descs = [" ".join(rng.choice(DESC_WORDS, rng.integers(2, 6))) for _ in codes]
    base_price = np.round(np.exp(rng.normal(0.8, 0.9, len(codes))), 2) + 0.01
    # Zipf-like popularity: a few hundred codes sell most days, the tail
    # rarely. Lines abroad draw from a steeper curve (a narrower catalogue),
    # which keeps the average series near 12 trading days.
    rank = rng.permutation(len(codes)) + 1.0
    popularity = 1.0 / rank ** 0.9
    popularity /= popularity.sum()
    abroad = 1.0 / rank ** 1.1
    abroad /= abroad.sum()
    country_p = np.full(len(COUNTRIES), (1 - UK_SHARE) / (len(COUNTRIES) - 1))
    country_p[0] = UK_SHARE

    n_dup = int(round(lines * DUP_SHARE))
    n_unique = lines - n_dup
    n_inv = n_unique // LINES_PER_INVOICE
    inv_day = rng.integers(0, len(days), n_inv)
    inv_minute = rng.integers(7 * 60, 20 * 60, n_inv)
    inv_order = np.lexsort((inv_minute, inv_day))
    inv_day, inv_minute = inv_day[inv_order], inv_minute[inv_order]
    inv_country = rng.choice(len(COUNTRIES), n_inv, p=country_p)
    inv_customer = np.where(rng.random(n_inv) < NO_CUSTOMER_SHARE, -1,
                            rng.integers(12_346, 12_346 + N_CUSTOMERS, n_inv))
    inv_return = rng.random(n_inv) < RETURN_SHARE

    # Every invoice gets at least one line; the rest land uniformly.
    line_inv = np.sort(np.concatenate(
        [np.arange(n_inv), rng.integers(0, n_inv, n_unique - n_inv)]))
    home = inv_country[line_inv] == 0
    code = np.where(home, rng.choice(len(codes), n_unique, p=popularity),
                    rng.choice(len(codes), n_unique, p=abroad))
    qty = rng.geometric(0.08, n_unique)
    # A code drawn twice on one invoice with the same quantity would be an
    # accidental exact duplicate; the n-th repeat gets 1000 * n more units.
    by_key, first = _groups(line_inv, code, qty)
    starts = np.flatnonzero(first)
    repeat = np.arange(n_unique) - starts[np.cumsum(first) - 1]
    qty[by_key] += 1000 * repeat
    qty = np.where(inv_return[line_inv], -qty, qty)
    price = np.where(rng.random(n_unique) < ZERO_PRICE_SHARE, 0.0, base_price[code])

    # Exact duplicates are re-emitted right after their original line.
    dup_of = np.sort(rng.choice(n_unique, n_dup, replace=False))
    order = np.sort(np.concatenate([np.arange(n_unique), dup_of]), kind="stable")

    # Per-invoice and per-code text is formatted once, then joined per line.
    day_str = [f"{d.month}/{d.day}/{d.year % 100}" for d in days]
    inv_no = np.array([("C" if r else "") + str(536_365 + i)
                       for i, r in enumerate(inv_return)], dtype=object)
    inv_date = np.array([f"{day_str[d]} {m // 60}:{m % 60:02d}"
                         for d, m in zip(inv_day, inv_minute)], dtype=object)
    inv_tail = np.array([f"{'' if c < 0 else c},{COUNTRIES[k]}"
                         for c, k in zip(inv_customer, inv_country)], dtype=object)
    code_text = np.array([f"{c},{d}" for c, d in zip(codes, descs)], dtype=object)
    li = line_inv[order]
    rows = map("{},{},{},{},{:.2f},{}\n".format, inv_no[li], code_text[code[order]],
               qty[order].tolist(), inv_date[li], price[order].tolist(), inv_tail[li])
    text = ",".join(COLUMNS) + "\n" + "".join(rows)

    day_idx = inv_day[line_inv]
    series = int(_groups(inv_country[line_inv], code)[1].sum())
    by_day, first_day = _groups(inv_country[line_inv], code, day_idx)
    daily_days = day_idx[by_day][first_day]
    cutoff = days.index(dt.date(2011, 9, 1))
    stats = {
        "raw_lines": lines,
        "distinct_lines": int(_groups(line_inv, code, qty, price)[1].sum()),
        "stock_codes": len(np.unique(code)),
        "countries": len(np.unique(inv_country)),
        "uk_share": round(float(np.mean(inv_country[line_inv] == 0)), 4),
        "trading_days": len(np.unique(inv_day)),
        "return_lines": int(np.sum(qty < 0)),
        "zero_price_lines": int(np.sum(price == 0.0)),
        "daily_rows": daily_days.size,
        "series": series,
        "days_per_series": round(daily_days.size / series, 2),
        "train_rows": int(np.sum(daily_days <= cutoff)),
        "test_rows": int(np.sum(daily_days > cutoff)),
        "bytes": len(text),
    }
    return text, stats


def write(path, seed, lines=PAPER_LINES):
    text, stats = generate(seed, lines)
    with open(path, "w", encoding="ascii", newline="") as f:
        f.write(text)
    return stats
