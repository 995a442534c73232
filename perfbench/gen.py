"""Seeded generator of NBU-shaped currency landings.

One NBU payload is a JSON array of about 60 records,
``{"r030": 840, "txt": "Долар США", "rate": 41.2563, "cc": "USD",
"exchangedate": "19.09.2025"}``, with Cyrillic ``txt`` and ``dd.MM.yyyy``
dates. The generator walks every currency's rate as a seeded random walk
and writes two shapes of input:

* ``write_history``: NDJSON files of past days, one record per currency
  and day, each carrying the ``ingest_ts`` it was loaded with (the rates
  table's history).
* ``write_payloads``: one pretty-printed array file per future day, the
  shape the NBU endpoint returns; some days re-run the previous day with
  corrected rates.

A few records per day carry a malformed date, so the dead-letter path of
``try_to_date`` runs. The same seed gives byte-identical files.
"""

import datetime
import json
import os
import random

# (r030, cc, txt, starting rate in UAH)
CURRENCIES = [
    (36, "AUD", "Австралійський долар", 27.1), (124, "CAD", "Канадський долар", 29.9),
    (156, "CNY", "Юань Женьміньбі", 5.78), (203, "CZK", "Чеська крона", 1.79),
    (208, "DKK", "Данська крона", 6.47), (344, "HKD", "Гонконгівський долар", 5.28),
    (348, "HUF", "Форинт", 0.117), (356, "INR", "Індійська рупія", 0.471),
    (360, "IDR", "Рупія", 0.00251), (376, "ILS", "Новий ізраїльський шекель", 11.2),
    (392, "JPY", "Єна", 0.279), (398, "KZT", "Теньге", 0.0773),
    (410, "KRW", "Вона", 0.0298), (484, "MXN", "Мексиканське песо", 2.21),
    (498, "MDL", "Молдовський лей", 2.41), (554, "NZD", "Новозеландський долар", 24.4),
    (578, "NOK", "Норвезька крона", 4.08), (682, "SAR", "Саудівський ріял", 11.0),
    (702, "SGD", "Сінгапурський долар", 32.0), (710, "ZAR", "Ренд", 2.33),
    (752, "SEK", "Шведська крона", 4.37), (756, "CHF", "Швейцарський франк", 51.8),
    (818, "EGP", "Єгипетський фунт", 0.85), (826, "GBP", "Фунт стерлінгів", 55.9),
    (840, "USD", "Долар США", 41.25), (941, "RSD", "Сербський динар", 0.412),
    (944, "AZN", "Азербайджанський манат", 24.3), (946, "RON", "Румунський лей", 9.58),
    (949, "TRY", "Турецька ліра", 1.0), (960, "XDR", "СПЗ (спеціальні права запозичення)", 56.4),
    (975, "BGN", "Болгарський лев", 24.7), (978, "EUR", "Євро", 48.67),
    (985, "PLN", "Злотий", 11.41), (12, "DZD", "Алжирський динар", 0.318),
    (50, "BDT", "Така", 0.339), (51, "AMD", "Вірменський драм", 0.107),
    (214, "DOP", "Домініканське песо", 0.66), (364, "IRR", "Іранський ріал", 0.00098),
    (368, "IQD", "Іракський динар", 0.0315), (417, "KGS", "Сом", 0.472),
    (422, "LBP", "Ліванський фунт", 0.00046), (434, "LYD", "Лівійський динар", 7.6),
    (458, "MYR", "Малайзійський ринггіт", 9.7), (504, "MAD", "Марокканський дирхам", 4.5),
    (586, "PKR", "Пакистанська рупія", 0.146), (704, "VND", "Донг", 0.00157),
    (764, "THB", "Бат", 1.27), (784, "AED", "Дирхам ОАЕ", 11.23),
    (788, "TND", "Туніський динар", 14.0), (860, "UZS", "Узбецький сум", 0.00329),
    (901, "TWD", "Новий тайванський долар", 1.36), (934, "TMT", "Новий туркменський манат", 11.8),
    (936, "GHS", "Ганський седі", 3.9), (933, "BYN", "Білоруський рубль", 12.6),
    (972, "TJS", "Сомоні", 3.87), (981, "GEL", "Ларі", 15.2),
    (986, "BRL", "Бразильський реал", 7.4), (959, "XAU", "Золото", 140210.0),
    (961, "XAG", "Срібло", 1610.5), (962, "XPT", "Платина", 58120.0),
]

TXT_JSON = {cc: json.dumps(txt, ensure_ascii=False) for (_, cc, txt, _) in CURRENCIES}

EPOCH = datetime.date(2015, 9, 20)
# a day in `RERUN_EVERY` re-runs (restates) the previous day's rates
RERUN_EVERY = 5
# one record in `BAD_DATE_EVERY` carries a malformed exchange date
BAD_DATE_EVERY = 97
BAD_DATES = ["31.02.2020", "2020-01-15", "15/01/2020", "", "00.00.0000"]


def ddmmyyyy(d):
    return d.strftime("%d.%m.%Y")


class RateWalk:
    """Per-currency seeded random walk; one step per business day."""

    def __init__(self, seed):
        self.rng = random.Random(seed)
        self.level = [base for (_, _, _, base) in CURRENCIES]
        self.serial = 0

    def step(self):
        self.level = [v * (1.0 + self.rng.gauss(0.0, 0.004)) for v in self.level]

    def records(self, exch_date, correction=False):
        """One payload: every currency priced on `exch_date`. A correction
        nudges each rate so a re-run really changes stored values."""
        out = []
        good = ddmmyyyy(exch_date)
        for (r030, cc, txt, _), v in zip(CURRENCIES, self.level):
            if correction:
                v *= 1.0 + self.rng.uniform(0.0005, 0.002)
            self.serial += 1
            date = good
            if self.serial % BAD_DATE_EVERY == 0:
                date = BAD_DATES[self.rng.randrange(len(BAD_DATES))]
            out.append({"r030": r030, "txt": txt, "rate": round(v, 4 if v >= 0.01 else 6),
                        "cc": cc, "exchangedate": date})
        return out


def _ndjson(records, extra=""):
    """Records as NDJSON in the schema's field order, `extra` appended to
    each object (a pre-rendered `,"key":"value"` tail)."""
    return "".join(
        '{"r030":%d,"txt":%s,"rate":%r,"cc":"%s","exchangedate":"%s"%s}\n'
        % (r["r030"], TXT_JSON[r["cc"]], r["rate"],
           r["cc"], r["exchangedate"], extra)
        for r in records)


def _write(path, text):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w", encoding="utf-8", newline="\n") as f:
        f.write(text)


def _ts(day, attempt):
    # the daily job runs at 16:00 UTC; a re-run lands one hour later
    return f"{day.isoformat()} {16 + attempt:02d}:00:00"


def write_history(out_dir, seed, n_days, days_per_file=365):
    """The rates history as NDJSON, `days_per_file` days per file: every
    currency on each of `n_days` days, one record per currency and day,
    each carrying the `ingest_ts` it was loaded with. Returns the number
    of records written."""
    walk = RateWalk(seed)
    n = 0
    for f in range(0, n_days, days_per_file):
        parts = []
        for i in range(f, min(n_days, f + days_per_file)):
            day = EPOCH + datetime.timedelta(days=i)
            walk.step()
            recs = walk.records(day)
            parts.append(_ndjson(recs, ',"ingest_ts":"%s"' % _ts(day, 0)))
            n += len(recs)
        _write(os.path.join(out_dir, f"part-{f // days_per_file:05d}.json"), "".join(parts))
    return n


def history_end(n_days):
    return EPOCH + datetime.timedelta(days=n_days)


def write_payloads(out_dir, seed, first_day, n_days):
    """One NBU-endpoint-shaped array file per day from `first_day`. Every
    `RERUN_EVERY`-th day is a re-run of the previous day with corrected
    rates. Returns the schedule: one dict per payload with its file,
    ingest date, exchange date and ingest timestamp, in load order."""
    walk = RateWalk(seed + 1)
    schedule = []
    day = first_day
    for i in range(n_days):
        rerun = i > 0 and i % RERUN_EVERY == 0
        if rerun:
            ingest = day - datetime.timedelta(days=1)
            recs = walk.records(ingest, correction=True)
            ts = _ts(ingest, 1)
        else:
            walk.step()
            ingest = day
            recs = walk.records(day)
            ts = _ts(day, 0)
            day += datetime.timedelta(days=1)
        name = f"{i:05d}.json"
        body = "[\n" + ",\n".join(
            "  " + json.dumps(r, ensure_ascii=False) for r in recs) + "\n]\n"
        _write(os.path.join(out_dir, name), body)
        schedule.append({"file": name, "ingest_date": ingest.isoformat(),
                         "ingest_ts": ts, "rerun": rerun})
    return schedule
