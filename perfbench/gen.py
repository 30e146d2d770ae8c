"""Seeded input generator for the ETL workloads.

Writes DataJud-shaped hit pages (one JSON hit per line, one directory per
court), a synthetic IBGE municipios table, and the ground truth the
benchmark checks outputs against. The same seed gives byte-identical files.

    python3 perfbench/gen.py <etl_batch|etl_incremental> <seed> <out_dir>

Edge rows (FIXTURES.md section 1) appear in every data set: null
`dataAjuizamento`, null movimento `dataHora`, empty `assuntos` and
`movimentos`, municipio codes missing from the lookup, filing dates outside
the window, and one municipios row with a null `CD_MUN`.
"""
import hashlib
import json
import os
import random
import sys
from datetime import datetime, timedelta, timezone

CLASSE = 12729
OTHER_CLASSES = [(7, "Procedimento Comum Civel"), (436, "Juizado Especial Civel"),
                 (1116, "Execucao Fiscal"), (159, "Execucao de Titulo")]
COURTS = ["TJSP", "TJMG", "TJRS", "TJPR", "TJBA", "TJCE"]
UFS = [11, 12, 13, 14, 15, 16, 17, 21, 22, 23, 24, 25, 26, 27, 28, 29,
       31, 32, 33, 35, 41, 42, 43, 50, 51, 52, 53]
MUNICIPIOS = 5569          # rows in the table, the null-code row included
SP_OFFSET = timedelta(hours=3)  # Sao Paulo is UTC-3 for every date drawn here
T0 = datetime(2019, 3, 1, tzinfo=timezone.utc)
T1 = datetime(2025, 6, 30, tzinfo=timezone.utc)

# Workload sizes. etl_batch: one CLI run over every court; etl_incremental:
# one court's initial load plus daily re-pulls.
BATCH_HITS = 24000
BATCH_PAGE = 1000
BATCH_WARM_SCALE = 8       # etl_batch's warm-up inputs are this much smaller
INC_COURT = "TJSP"
INC_INITIAL = 1500
INC_DELIVERIES = 2
INC_DELIVERY = 500
INC_PAGE = 500
WARM_SCALE = 20            # etl_incremental's warm-up inputs are this much smaller


def iso(t):
    return t.strftime("%Y-%m-%dT%H:%M:%SZ")


def digest32(s):
    """First 32 bits of md5, the per-row digest both sides sum."""
    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:8], 16)


class Corpus:
    """Draws hits. The knobs vary with the seed inside narrow bands: runs see
    different shapes while the work per run stays within a few percent, so
    seed-to-seed spread does not swamp the benchmark's bounds."""

    def __init__(self, rng):
        self.rng = rng
        self.p_null_date = 0.018 + 0.004 * rng.random()
        self.p_classe = 0.78 + 0.04 * rng.random()
        self.mov_lo = rng.randint(0, 4)      # movimentos per hit: mov_lo..12-mov_lo
        self.p_unmapped = 0.04 + 0.02 * rng.random()
        self.seq = 0
        codes = set()
        while len(codes) < MUNICIPIOS - 1:
            codes.add(rng.choice(UFS) * 100000 + rng.randint(0, 99999))
        self.codes = sorted(codes)
        self.names = {c: "Municipio %d" % c for c in self.codes}

    def municipios_csv(self, path):
        rows = ["CD_MUN,NM_MUN"] + ["%d,%s" % (c, self.names[c]) for c in self.codes]
        rows.insert(1 + self.rng.randrange(len(self.codes)), ",Sem Codigo")
        with open(path, "w", encoding="utf-8") as f:
            f.write("\n".join(rows) + "\n")

    def when(self, lo=T0, hi=T1):
        span = int((hi - lo).total_seconds())
        return lo + timedelta(seconds=self.rng.randrange(span))

    def municipio(self):
        r = self.rng.random()
        if r < 0.01:
            return None
        if r < 0.01 + self.p_unmapped:
            return str(9900000 + self.rng.randrange(99999))  # absent from the lookup
        return str(self.rng.choice(self.codes))

    def movimentos(self, n, lo, hi):
        out = []
        for _ in range(n):
            t = None if self.rng.random() < 0.03 else iso(self.when(lo, hi))
            out.append({"codigo": self.rng.randint(1, 12000),
                        "nome": "Movimento %d" % self.rng.randint(1, 400),
                        "dataHora": t})
        return out

    def hit(self, court):
        """A new processo: (hit dict, its filing instant or None)."""
        rng = self.rng
        self.seq += 1
        filed = None if rng.random() < self.p_null_date else self.when()
        year = (filed or T0).year
        numero = "%07d-%02d.%d.8.%02d.%04d" % (
            self.seq, self.seq % 97, year, COURTS.index(court) + 10, rng.randint(1, 9999))
        if rng.random() < self.p_classe:
            classe = {"codigo": CLASSE, "nome": "Procedimento Especial"}
        else:
            c, n = rng.choice(OTHER_CLASSES)
            classe = {"codigo": c, "nome": n}
        base = filed or T0
        updated = base + timedelta(days=rng.randint(1, 400), seconds=rng.randrange(86400))
        assuntos = [] if rng.random() < 0.1 else [
            {"codigo": rng.randint(1, 15000),
             "nome": None if rng.random() < 0.05 else "Assunto %d" % rng.randint(1, 900)}
            for _ in range(rng.randint(1, 3))]
        nmov = 0 if rng.random() < 0.05 else rng.randint(self.mov_lo, 12 - self.mov_lo)
        src = {
            "numeroProcesso": numero,
            "classe": classe,
            "dataAjuizamento": iso(filed) if filed else None,
            "dataHoraUltimaAtualizacao": iso(updated),
            "formato": {"nome": "Eletronico" if rng.random() < 0.9 else "Fisico"},
            "orgaoJulgador": {"codigo": str(rng.randint(1000, 99999)),
                              "nome": "Vara %d" % rng.randint(1, 300),
                              "codigoMunicipioIBGE": self.municipio()},
            "grau": rng.choice(["G1", "G1", "G2", "JE"]),
            "assuntos": assuntos,
            "movimentos": self.movimentos(nmov, base, updated),
        }
        sort = int(filed.timestamp() * 1000) if filed else 0
        return {"_source": src, "sort": [sort]}, filed

    def repull(self, hit):
        """A re-pulled update: later last-update stamp, one more movimento."""
        src = dict(hit["_source"])
        old = datetime.strptime(src["dataHoraUltimaAtualizacao"],
                                "%Y-%m-%dT%H:%M:%SZ").replace(tzinfo=timezone.utc)
        new = old + timedelta(days=self.rng.randint(1, 60), seconds=self.rng.randrange(86400))
        src["dataHoraUltimaAtualizacao"] = iso(new)
        src["movimentos"] = list(src["movimentos"]) + self.movimentos(1, old, new)
        return {"_source": src, "sort": hit["sort"]}

    def enriched(self, hit):
        code = hit["_source"]["orgaoJulgador"]["codigoMunicipioIBGE"]
        if code is None:
            return None
        return self.names.get(int(code), code)


def write_pages(hits, d, prefix, page):
    os.makedirs(d, exist_ok=True)
    for i in range(0, len(hits), page):
        with open(os.path.join(d, "%s%04d.json" % (prefix, i // page)), "w",
                  encoding="utf-8") as f:
            for h in hits[i:i + page]:
                f.write(json.dumps(h, ensure_ascii=False, separators=(",", ":")) + "\n")


def hour_sp(t):
    return (t - SP_OFFSET).hour


def gen_batch(rng, out, total):
    c = Corpus(rng)
    c.municipios_csv(os.path.join(out, "municipios.csv"))
    big = 0.55 + 0.1 * rng.random()                # TJSP-like court's share
    rest = [rng.random() + 0.2 for _ in COURTS[1:]]
    shares = [big] + [(1 - big) * r / sum(rest) for r in rest]
    de = datetime(2020, 1, 1, tzinfo=timezone.utc) + timedelta(days=rng.randrange(180))
    ate = de + timedelta(days=rng.randint(1080, 1120))
    lo, hi = de + SP_OFFSET, ate + SP_OFFSET       # Sao Paulo midnights as instants
    rows = digest = named = 0
    hist = {}
    counts = {}
    for court, share in zip(COURTS, shares):
        n = int(round(total * share))
        counts[court] = n
        hits = []
        for _ in range(n):
            h, filed = c.hit(court)
            hits.append(h)
            if h["_source"]["classe"]["codigo"] != CLASSE:
                continue
            if filed is not None and not (lo <= filed <= hi):
                continue
            rows += 1
            mun = c.enriched(h)
            named += mun is not None and mun.startswith("Municipio")
            digest += digest32("%s|%s|%s" % (court, h["_source"]["numeroProcesso"],
                                             "~" if mun is None else mun))
            if filed is not None:
                hist[hour_sp(filed)] = hist.get(hour_sp(filed), 0) + 1
        write_pages(hits, os.path.join(out, "hits", court), "page", BATCH_PAGE)
    truth = {"hits": sum(counts.values()), "per_court": counts,
             "de": de.strftime("%Y-%m-%d"), "ate": ate.strftime("%Y-%m-%d"),
             "classe": CLASSE, "courts": COURTS, "rows": rows, "named": named,
             "digest": digest, "hist": {str(k): v for k, v in sorted(hist.items())}}
    with open(os.path.join(out, "truth.json"), "w") as f:
        json.dump(truth, f, indent=1, sort_keys=True)


def table_truth(c, table):
    hist = {}
    digest = 0
    for numero, h in table.items():
        s = h["_source"]
        mun = c.enriched(h)
        digest += digest32("%s|%s|%s" % (numero, s["dataHoraUltimaAtualizacao"],
                                         "~" if mun is None else mun))
        if s["dataAjuizamento"]:
            hr = hour_sp(datetime.strptime(s["dataAjuizamento"], "%Y-%m-%dT%H:%M:%SZ")
                         .replace(tzinfo=timezone.utc))
            hist[hr] = hist.get(hr, 0) + 1
    return {"rows": len(table), "digest": digest,
            "hist": {str(k): v for k, v in sorted(hist.items())}}


def gen_incremental(rng, out, initial, deliveries, per_delivery):
    c = Corpus(rng)
    c.municipios_csv(os.path.join(out, "municipios.csv"))
    p_update = 0.33 + 0.04 * rng.random()
    p_takedown = 0.009 + 0.002 * rng.random()
    table = {}
    filed_at = {}
    out_deliveries = []
    hits_total = 0
    for d in range(deliveries + 1):
        n = initial if d == 0 else per_delivery
        n_upd = 0 if d == 0 else int(n * p_update)
        # updates are biased toward recent filings: draw from the newest half
        # twice as often as from the oldest half
        keys = sorted(table, key=lambda k: (filed_at[k], k))
        upd = set()
        while len(upd) < n_upd:
            half = len(keys) // 2
            k = keys[half + rng.randrange(len(keys) - half)] if rng.random() < 2 / 3 \
                else keys[rng.randrange(half)]
            upd.add(k)
        hits = [c.repull(table[k]) for k in sorted(upd)]
        for _ in range(n - n_upd):
            h, filed = c.hit(INC_COURT)
            hits.append(h)
            filed_at[h["_source"]["numeroProcesso"]] = filed.isoformat() if filed else ""
        rng.shuffle(hits)
        inserts = n - n_upd
        for h in hits:
            table[h["_source"]["numeroProcesso"]] = h
        n_down = 0 if d == 0 else max(1, int(len(keys) * p_takedown))
        down = sorted(rng.sample(sorted(set(keys) - upd), n_down)) if n_down else []
        for k in down:
            del table[k]
        dd = os.path.join(out, "deliveries", "%02d" % d)
        write_pages(hits, dd, "d%02dp" % d, INC_PAGE)
        with open(os.path.join(dd, "takedowns.txt"), "w") as f:
            f.write("".join(k + "\n" for k in down))
        hits_total += len(hits)
        t = table_truth(c, table)
        t.update({"delivery": d, "hits": len(hits), "inserts": inserts,
                  "updates": n_upd, "deletes": len(down)})
        out_deliveries.append(t)
    truth = {"court": INC_COURT, "hits": hits_total, "deliveries": out_deliveries}
    with open(os.path.join(out, "truth.json"), "w") as f:
        json.dump(truth, f, indent=1, sort_keys=True)


def generate(workload, seed, out):
    """Inputs of one workload and seed under out/main, and a smaller
    warm-up set under out/warm (for etl_incremental, an initial load
    only)."""
    if workload == "etl_batch":
        for sub, scale in (("main", 1), ("warm", BATCH_WARM_SCALE)):
            d = os.path.join(out, sub)
            os.makedirs(d, exist_ok=True)
            gen_batch(random.Random("%s/%d/%s" % (workload, seed, sub)), d, BATCH_HITS // scale)
    elif workload == "etl_incremental":
        for sub, scale, deliveries in (("main", 1, INC_DELIVERIES), ("warm", WARM_SCALE, 0)):
            d = os.path.join(out, sub)
            os.makedirs(d, exist_ok=True)
            gen_incremental(random.Random("%s/%d/%s" % (workload, seed, sub)), d,
                            INC_INITIAL // scale, deliveries, INC_DELIVERY // scale)
    else:
        raise ValueError("no generated inputs for " + workload)


if __name__ == "__main__":
    generate(sys.argv[1], int(sys.argv[2]), sys.argv[3])
