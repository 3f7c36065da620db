"""Seeded generator of ad-library landing batches, with their expected outputs.

A landing batch is a directory of raw JSON documents, each an array of ad
groups, each group an array of nested ad objects: the shape the collect
stage of the paper's pipeline lands and `graft.io.Sources.rawAdsJson` reads.
The generator keeps the semantic branches of the reference transform at
fixed ratios (see RATIOS) and computes each batch's expected outputs with an
independent re-implementation of the reference semantics: curated row
count, quarantine count per validation_error, report ad_ids in order, and
the curated ad_ids the snapshot upsert receives.
"""
import json
import os
import random

# The report clock; every start date lies before it.
NOW = 1720000000
MIN_EPOCH = -62135596800
MAX_EPOCH = 253402300799
FORMATS = ("VIDEO", "IMAGE", "DCO", "CAROUSEL")

# Share of ads taking each branch in a regular batch. No public statistic of
# the Ad Library gives these; they are assumptions, and WORKLOADS.md states
# the basis of each and which metrics move with them.
RATIOS = {
    "missing_ad_id": 0.004,
    "missing_is_active": 0.004,
    "missing_start": 0.004,
    "bad_start_epoch": 0.003,
    "bad_end_epoch": 0.003,
    "bad_format": 0.02,        # half unknown names, half missing
    "end_before_start": 0.01,
    "inactive": 0.2,
    "end_null": 0.45,
    "end_equal": 0.1,
    "active_time_null": 0.3,
    "group_null": 0.03,        # null collation_id: collapses in dedup pass 2
    "dup_id": 0.03,            # ad_archive_id repeated within the batch
    "dup_text": 0.05,          # body text repeated within the batch
    "recollected": 0.05,       # ad_archive_id landed by an earlier batch
    "cards_missing": 0.05,     # DCO/CAROUSEL snapshot without a cards key
}
FORMAT_WEIGHTS = (0.35, 0.35, 0.15, 0.15)

WORDS = {
    "en": "the quick brown fox jumps over lazy dog and this is english text for sale now".split(),
    "es": "el gato y el perro en la casa con una oferta para todos hoy".split(),
    "fr": "le chat et le chien sont ici avec une offre pour tous les jours".split(),
    "de": "der hund und die katze sind hier mit einem angebot fuer alle".split(),
    "zh": "你好 世界 这是 中文 文本 广告 今天 优惠 大家 购买".split(),
}


def _text(rng):
    lang = rng.choice(("en", "en", "es", "fr", "de", "zh"))
    sep = "" if lang == "zh" else " "
    return sep.join(rng.choice(WORDS[lang]) for _ in range(rng.randint(4, 18)))


def _url(rng, kind):
    r = rng.random()
    if r < 0.2:
        return ""
    if r < 0.4:
        return None
    return f"https://{kind}.example/{rng.randrange(10**9)}"


def _ad(rng, ad_id, group_id, texts, start):
    """One valid ad; the caller then breaks it into a rarer branch."""
    fmt = rng.choices(FORMATS, FORMAT_WEIGHTS)[0]
    if rng.random() < RATIOS["dup_text"] and texts:
        text = rng.choice(texts)
    else:
        text = _text(rng)
        texts.append(text)
    if fmt in ("DCO", "CAROUSEL"):
        snapshot = {"display_format": fmt}
        if rng.random() >= RATIOS["cards_missing"]:
            snapshot["cards"] = [
                {"body": text if i == 0 else _text(rng),
                 "video_hd_url": _url(rng, "video"),
                 "original_image_url": _url(rng, "img")}
                for i in range(rng.randint(1, 3))]
    else:
        snapshot = {"display_format": fmt, "body": {"text": text}}
    r = rng.random()
    if r < RATIOS["end_null"]:
        end = None
    elif r < RATIOS["end_null"] + RATIOS["end_equal"]:
        end = start
    else:
        end = start + rng.randrange(3600, 90 * 86400)
    active_time = (None if rng.random() < RATIOS["active_time_null"]
                   else rng.randrange(0, 60 * 86400, 60))
    return {
        "ad_archive_id": ad_id,
        "is_active": rng.random() >= RATIOS["inactive"],
        "start_date": start,
        "end_date": end,
        "total_active_time": active_time,
        "collation_id": group_id,
        "collation_count": rng.choice((None, 1, 2, 3, 5, 8)),
        "snapshot": snapshot,
    }


def _break(rng, ad):
    """Moves a share of ads into each quarantine class."""
    r = rng.random()
    for key, edit in (
        ("missing_ad_id", lambda: ad.pop("ad_archive_id")),
        ("missing_is_active", lambda: ad.pop("is_active")),
        ("missing_start", lambda: ad.pop("start_date")),
        ("bad_start_epoch", lambda: ad.update(start_date=999999999999999)),
        ("bad_end_epoch", lambda: ad.update(end_date=MAX_EPOCH + 1)),
        ("bad_format", lambda: ad["snapshot"].update(
            display_format=rng.choice(("TEXT", None)))),
        ("end_before_start", lambda: ad.update(end_date=ad["start_date"] - 86400)),
    ):
        if r < RATIOS[key]:
            edit()
            return
        r -= RATIOS[key]


def make_batch(rng, batch_no, n_docs, ads_per_doc, earlier_ids):
    """Documents of one regular batch. `earlier_ids` holds ad ids landed by
    earlier batches of the same run; some are collected again here."""
    texts, ids = [], []
    docs = []
    for d in range(n_docs):
        groups, n = [], 0
        while n < ads_per_doc:
            size = rng.randint(1, 6)
            group_id = (None if rng.random() < RATIOS["group_null"]
                        else f"g{batch_no}_{d}_{len(groups)}")
            start = rng.randrange(NOW - 400 * 86400, NOW - 3600)
            group = []
            for _ in range(size):
                r = rng.random()
                if r < RATIOS["dup_id"] and ids:
                    ad_id = rng.choice(ids)
                elif r < RATIOS["dup_id"] + RATIOS["recollected"] and earlier_ids:
                    ad_id = rng.choice(earlier_ids)
                else:
                    ad_id = str(10**12 + batch_no * 10**7 + len(ids))
                ids.append(ad_id)
                ad = _ad(rng, ad_id, group_id, texts, start + rng.randrange(0, 3600))
                _break(rng, ad)
                group.append(ad)
            groups.append(group)
            n += size
        docs.append(groups)
    return docs


def edge_batch():
    """A small batch carrying every rare branch, including DCO and CAROUSEL
    ads whose cards list is empty; the reference keeps those with ""."""
    def ad(i, **kw):
        a = {"ad_archive_id": str(9 * 10**12 + i), "is_active": True,
             "start_date": 1717000000 + i, "end_date": None, "total_active_time": 3600 * i,
             "collation_id": f"edge{i}", "collation_count": None,
             "snapshot": {"display_format": "VIDEO", "body": {"text": f"edge text number {i}"}}}
        a.update(kw)
        return a
    doc = [
        [ad(1, snapshot={"display_format": "DCO", "cards": []}),
         ad(2, snapshot={"display_format": "CAROUSEL", "cards": []}),
         ad(3, snapshot={"display_format": "CAROUSEL"}),
         ad(4, snapshot={"display_format": "DCO", "cards": None}),
         ad(5, snapshot={"display_format": "DCO", "cards": [
             {"body": None, "video_hd_url": "", "original_image_url": ""}]}),
         ad(6, snapshot={"display_format": "CAROUSEL", "cards": [
             {"body": "carousel first card", "video_hd_url": "https://v.example/1",
              "original_image_url": "https://i.example/1"}]})],
        [],
        [None,
         ad(7, end_date=1717000007, total_active_time=1800),
         ad(8, end_date=0, total_active_time=5400),
         ad(9, start_date=0, end_date=None, total_active_time=None),
         ad(10, collation_id=None),
         ad(11, collation_id=None, snapshot={"display_format": "IMAGE",
                                             "body": {"text": "second null group"}}),
         ad(12, snapshot={"display_format": "IMAGE", "body": {"text": "edge text number 7"}}),
         ad(13, snapshot={"display_format": "IMAGE", "body": None}),
         ad(14, snapshot={"display_format": "VIDEO", "body": {"text": "你好世界 这是中文"}}),
         ad(15, snapshot=None),
         ad(16, is_active=False, total_active_time=10**7)],
        [ad(1, collation_id="edge-dup-id"),
         {"ad_archive_id": "9000000000099"},
         ad(17, start_date=MIN_EPOCH - 1),
         ad(18, end_date=MAX_EPOCH + 1),
         ad(19, end_date=1716999000),
         ad(20, snapshot={"display_format": "MEME", "body": {"text": "unknown"}})],
    ]
    return [doc]


# ------------------------------------------------------------ reference


def _derive(ad):
    ad = ad or {}
    snap = ad.get("snapshot") or {}
    fmt = snap.get("display_format")
    if fmt in ("DCO", "CAROUSEL"):
        cards = snap.get("cards")
        text = (cards[0] or {}).get("body") if cards else None
    else:
        text = (snap.get("body") or {}).get("text")
    return {
        "ad_id": ad.get("ad_archive_id"), "is_active": ad.get("is_active"),
        "start": ad.get("start_date"), "end": ad.get("end_date"),
        "active_time": ad.get("total_active_time"), "group": ad.get("collation_id"),
        "format": fmt, "text": "" if text is None else text,
    }


def validation_error(r):
    """The first failing validation rule, None when the row is valid."""
    if r["ad_id"] is None:
        return "missing:ad_id"
    if r["is_active"] is None:
        return "missing:is_active"
    if r["start"] is None:
        return "missing:start_date_ts"
    if not MIN_EPOCH <= r["start"] <= MAX_EPOCH:
        return "invalid_epoch:start_date_ts"
    if r["end"] is not None and not MIN_EPOCH <= r["end"] <= MAX_EPOCH:
        return "invalid_epoch:end_date_ts"
    if r["format"] not in FORMATS:
        return "invalid_enum:display_format"
    if r["start"] != 0 and r["end"] is not None and r["end"] != 0 and r["end"] < r["start"]:
        return "end_before_start"
    return None


def expected(docs, now=NOW, k=10):
    """Expected outputs of one batch whose documents land in file order."""
    quarantine, valid = {}, []
    for groups in docs:
        for group in groups:
            for ad in group:
                r = _derive(ad)
                err = validation_error(r)
                if err:
                    quarantine[err] = quarantine.get(err, 0) + 1
                else:
                    valid.append(r)
    curated = valid
    for key in ("ad_id", "group", "text"):  # three keep-first passes; None is a key
        seen, kept = set(), []
        for r in curated:
            if r[key] not in seen:
                seen.add(r[key])
                kept.append(r)
        curated = kept

    def hours(r):
        secs = r["active_time"] if r["active_time"] is not None else now - r["start"]
        return int(round(secs / 3600))  # round() is half-even, as the report's bround

    active = sorted((r for r in curated if r["is_active"]), key=lambda r: (-hours(r), r["ad_id"]))
    return {
        "curated": len(curated),
        "quarantine": quarantine,
        "report": [r["ad_id"] for r in active[:k]],
        "curated_ids": sorted(r["ad_id"] for r in curated),
        "ads": sum(len(g) for groups in docs for g in groups),
    }


def write_batch(path, docs):
    """One file per document, named so that path order is document order."""
    os.makedirs(path)
    for i, groups in enumerate(docs):
        body = "[\n" + ",\n".join(
            "[\n" + ",\n".join(json.dumps(ad, ensure_ascii=False) for ad in g) + "\n]"
            for g in groups) + "\n]\n"
        with open(os.path.join(path, f"doc_{i:05d}.json"), "w", encoding="utf-8") as f:
            f.write(body)


def generate(seed, n_batches, n_docs, ads_per_doc):
    """The regular batches of one run, in landing order, with expectations."""
    rng = random.Random(seed)
    earlier, out = [], []
    for b in range(n_batches):
        docs = make_batch(rng, b, n_docs, ads_per_doc, earlier)
        exp = expected(docs)
        earlier.extend(exp["curated_ids"])
        out.append((docs, exp))
    return out
