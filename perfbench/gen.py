"""Seeded corpus generator for the DICOM ETL benchmark.

Writes explicit-VR little-endian DICOM files, zip and tar archives of them,
injected failures and ignored objects under ``<root>/input`` (plus a small
warm-up corpus under ``<root>/warmup``), and records the expected outcome of
every object in ``<root>/expected.json``: images, error stage, study date and
pixel-data offset. The program under test only ever sees the files.

The same (workload, seed) pair always yields byte-identical files.
"""
import bz2
import datetime as dt
import gzip
import hashlib
import io
import json
import lzma
import multiprocessing
import os
import random
import struct
import tarfile
import zipfile

import numpy as np

EXPLICIT_LE = "1.2.840.10008.1.2.1"
CT_IMAGE = "1.2.840.10008.5.1.4.1.1.2"
MR_IMAGE = "1.2.840.10008.5.1.4.1.1.4"
LONG_VRS = {"OB", "OW", "OF", "OD", "OL", "OV", "SQ", "UC", "UR", "UT", "UN"}
DEFAULT_DATE = "1979-01-01"  # the program imputes it when StudyDate is absent
ZIP_TIME = (2020, 1, 1, 0, 0, 0)
WORKLOADS = ("etl_small_objects", "etl_large_archives", "ingest_stream")
# loose .dcm above this many bytes leave the packed scan for the streamed
# route; the harness pins spark.graft.route.maxInlineBytes to it
MAX_INLINE_BYTES = 12 * 1024 * 1024
SMALL_OBJECTS = 300
WARMUP_OBJECTS = 12
ARCHIVE_MEMBERS = 24
# ingest_stream uploads bursts: each holds the images of one study as
# STREAM_LOOSE loose .dcm files plus one 3-member archive
STREAM_LOOSE = 9


# ---------------------------------------------------------------- DICOM writer

def _pad(raw, vr):
    if len(raw) % 2:
        raw += b"\0" if vr in ("UI", "OB", "UN") else b" "
    return raw


def element(group, elem, vr, raw):
    raw = _pad(raw, vr)
    head = struct.pack("<HH", group, elem) + vr.encode("ascii")
    if vr in LONG_VRS:
        return head + b"\0\0" + struct.pack("<I", len(raw)) + raw
    return head + struct.pack("<H", len(raw)) + raw


def text(group, elem, vr, value, charset="ascii"):
    return element(group, elem, vr, value.encode(charset))


def sequence(group, elem, items):
    body = b"".join(struct.pack("<HHI", 0xFFFE, 0xE000, len(i)) + i for i in items)
    return element(group, elem, "SQ", body)


def dicom_file(elements, pixels, sop_uid):
    """One PS3.10 file. `elements` is a list of ((group, elem), encoded bytes)
    for the main data set; pixel data goes last as OW. Returns (bytes, offset
    of the pixel-data element)."""
    meta_body = (element(0x0002, 0x0001, "OB", b"\0\1")
                 + element(0x0002, 0x0002, "UI", CT_IMAGE.encode())
                 + element(0x0002, 0x0003, "UI", sop_uid.encode())
                 + element(0x0002, 0x0010, "UI", EXPLICIT_LE.encode())
                 + element(0x0002, 0x0012, "UI", b"1.2.826.0.1.3680043.9.7433.1"))
    head = (b"\0" * 128 + b"DICM"
            + element(0x0002, 0x0000, "UL", struct.pack("<I", len(meta_body)))
            + meta_body
            + b"".join(v for (_, v) in sorted(elements, key=lambda tv: tv[0])))
    return head + element(0x7FE0, 0x0010, "OW", pixels), len(head)


# ---------------------------------------------------------------- images

FAMILY = ["Smith", "Jones", "Garcia", "Nguyen", "Kowalski", "Okafor", "Tanaka", "Silva"]
FAMILY_LATIN1 = ["Müller", "Gómez", "Lefèvre", "Sørensen", "Åström"]
GIVEN = ["Ann", "Bo", "Carl", "Dina", "Eli", "Fay", "Gus", "Hana"]
MODALITIES = ["CT", "MR", "CR", "US", "PT"]


class Images:
    """Seeded image factory: every image carries a wide tag mix (DA lists,
    multi-valued PN, SQ, US/SS, DS lists, some with a Latin-1 charset) and
    returns its expected typed values next to its bytes."""

    def __init__(self, rng, nprng, dates):
        self.rng, self.nprng, self.dates = rng, nprng, dates
        self.n = 0

    def pixels(self, nbytes):
        words = self.nprng.integers(0, 4096, size=(nbytes + 1) // 2, dtype=np.uint16)
        return words.tobytes()[:nbytes - nbytes % 2]

    def make(self, pixel_bytes, with_date=True, date=None):
        rng = self.rng
        self.n += 1
        sop = "1.2.826.0.1.3680043.9.7433.2.%d.%d" % (rng.randrange(10**9), self.n)
        latin1 = rng.random() < 0.2
        charset = "latin-1" if latin1 else "ascii"
        family = rng.choice(FAMILY_LATIN1 if latin1 else FAMILY)
        given = rng.choice(GIVEN)
        date = rng.choice(self.dates) if date is None else date
        cal = sorted(rng.sample(range(0, 3000), 2))
        cal_dates = [(dt.date(2012, 1, 1) + dt.timedelta(days=d)).isoformat() for d in cal]
        physicians = [(rng.choice(FAMILY), rng.choice(GIVEN)) for _ in range(rng.randint(1, 3))]
        position = ["%.1f" % rng.uniform(-250, 250) for _ in range(3)]
        smallest = -rng.randint(1, 1024)
        rows = rng.choice([64, 128, 256, 512])
        ref_uid = "1.2.826.0.1.3680043.9.7433.3.%d" % rng.randrange(10**9)
        els = [
            ((0x0008, 0x0008), text(0x0008, 0x0008, "CS", "ORIGINAL\\PRIMARY\\AXIAL")),
            ((0x0008, 0x0016), text(0x0008, 0x0016, "UI", CT_IMAGE)),
            ((0x0008, 0x0018), text(0x0008, 0x0018, "UI", sop)),
            ((0x0008, 0x0060), text(0x0008, 0x0060, "CS", rng.choice(MODALITIES))),
            ((0x0008, 0x1048), text(0x0008, 0x1048, "PN",
                                    "\\".join("%s^%s" % p for p in physicians))),
            ((0x0008, 0x1110), sequence(0x0008, 0x1110, [
                text(0x0008, 0x1150, "UI", MR_IMAGE) + text(0x0008, 0x1155, "UI", ref_uid)])),
            ((0x0010, 0x0010), text(0x0010, 0x0010, "PN", "%s^%s" % (family, given), charset)),
            ((0x0010, 0x0020), text(0x0010, 0x0020, "LO", "PID%07d" % rng.randrange(10**7))),
            ((0x0010, 0x0030), text(0x0010, 0x0030, "DA",
                                    "19%02d%02d%02d" % (rng.randint(30, 99), rng.randint(1, 12),
                                                        rng.randint(1, 28)))),
            ((0x0018, 0x1200), text(0x0018, 0x1200, "DA",
                                    "\\".join(d.replace("-", "") for d in cal_dates))),
            ((0x0020, 0x0013), text(0x0020, 0x0013, "IS", str(rng.randint(1, 500)))),
            ((0x0020, 0x0032), text(0x0020, 0x0032, "DS", "\\".join(position))),
            ((0x0028, 0x0010), element(0x0028, 0x0010, "US", struct.pack("<H", rows))),
            ((0x0028, 0x0011), element(0x0028, 0x0011, "US", struct.pack("<H", rows))),
            ((0x0028, 0x0106), element(0x0028, 0x0106, "SS", struct.pack("<h", smallest))),
            ((0x0028, 0x1050), text(0x0028, 0x1050, "DS", "40\\400")),
        ]
        if latin1:
            els.append(((0x0008, 0x0005), text(0x0008, 0x0005, "CS", "ISO_IR 100")))
        if with_date:
            els.append(((0x0008, 0x0020), text(0x0008, 0x0020, "DA", date.replace("-", ""))))
        else:
            date = DEFAULT_DATE
        raw, offset = dicom_file(els, self.pixels(pixel_bytes), sop)
        expected = {
            "sop": sop, "study_date": date, "pixel_offset": offset,
            "patient_name": [family, given],
            "physicians": len(physicians),
            "calibration": cal_dates,
            "position": position,
            "smallest": str(smallest),
            "ref_sop": ref_uid,
        }
        return raw, expected


# ---------------------------------------------------------------- containers

def zip_bytes(members, compress=True):
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as z:
        for name, data in members:
            info = zipfile.ZipInfo(name, date_time=ZIP_TIME)
            info.compress_type = zipfile.ZIP_DEFLATED if compress else zipfile.ZIP_STORED
            z.writestr(info, data, compresslevel=1 if compress else None)
    return buf.getvalue()


def pack(kind, members):
    if kind == "zip":
        return zip_bytes(members)
    if kind == "zip-stored":
        return zip_bytes(members, compress=False)
    return tar_bytes(members, kind)


def tar_bytes(members, codec):
    buf = io.BytesIO()
    with tarfile.open(fileobj=buf, mode="w", format=tarfile.USTAR_FORMAT) as t:
        for name, data in members:
            info = tarfile.TarInfo(name)
            info.size, info.mtime, info.mode = len(data), 0, 0o644
            t.addfile(info, io.BytesIO(data))
    raw = buf.getvalue()
    if codec == "gz":
        return gzip.compress(raw, compresslevel=1, mtime=0)
    if codec == "bz2":
        return bz2.compress(raw, compresslevel=1)
    if codec == "xz":
        return lzma.compress(raw, preset=0)
    return raw


# ---------------------------------------------------------------- corpora

class Corpus:
    def __init__(self, root, rng):
        self.root, self.rng = root, rng
        self.objects, self.pending = [], []

    def put(self, rel, data, images=(), error=None, ignored=False):
        path = os.path.join(self.root, rel)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "wb") as f:
            f.write(data)
        self.objects.append({"key": rel, "bytes": len(data), "images": list(images),
                             "error": error, "ignored": ignored})

    def archive(self, rel, kind, imgs, extra_dicomdir=False, pool=None):
        members = [("series/IM%04d.dcm" % i, raw) for i, (raw, _) in enumerate(imgs)]
        if extra_dicomdir:  # filtered by name: never an image
            members.append(("DICOMDIR", imgs[0][0]))
        expected = [e for (_, e) in imgs]
        if pool is None:
            self.put(rel, pack(kind, members), expected)
        else:  # compressed in a worker; put() later, in generation order
            self.pending.append((rel, pool.apply_async(pack, (kind, members)), expected))

    def flush(self):
        for rel, result, expected in self.pending:
            self.put(rel, result.get(), expected)
        self.pending = []

    def failures(self, tag, empty_dicomdir=True):
        """One object per error stage, plus the reference's empty DICOMDIR."""
        rng = self.rng
        self.put("%s/report_%s.pdf" % (tag, rng.randrange(10**6)), b"%PDF-1.4 not dicom",
                 error="route")
        self.put("%s/broken_%s.zip" % (tag, rng.randrange(10**6)),
                 bytes(rng.randrange(256) for _ in range(600)), error="expand")
        self.put("%s/broken_%s.gz" % (tag, rng.randrange(10**6)),
                 b"\x1f\x8b\x08\x00" + bytes(rng.randrange(256) for _ in range(300)),
                 error="expand")
        self.put("%s/nomagic_%s.dcm" % (tag, rng.randrange(10**6)), b"\0" * 200 + b"NOTDICM",
                 error="parse")
        if empty_dicomdir:
            self.put("%s/DICOMDIR" % tag, b"", error="parse")

    def ignored(self, tag):
        rng = self.rng
        self.put("%s/meta_%d.json" % (tag, rng.randrange(10**6)), b'{"note": "sidecar"}',
                 ignored=True)
        self.put("%s/notes_%d.txt" % (tag, rng.randrange(10**6)), b"free text", ignored=True)
        self.put("%s/list_%d.csv" % (tag, rng.randrange(10**6)), b"a,b\n1,2\n", ignored=True)


def study_dates(rng, n):
    days = rng.sample(range(0, 3650), n)
    return sorted((dt.date(2015, 1, 1) + dt.timedelta(days=d)).isoformat() for d in days)


def small_objects(corpus, imgs, n_objects, dirs=16):
    """Mostly loose 4-8 KB .dcm files, ~3% small zip/tar files of 3 members,
    one loose image in 200 without StudyDate (so a 300-object corpus always
    has the imputed date's partition), ~1% failures and ~1% ignored
    objects."""
    rng = corpus.rng
    n_fail_sets = max(1, n_objects // 500)      # 5 objects each -> ~1%
    n_ignored_sets = max(1, n_objects // 300)   # 3 objects each -> ~1%
    n_archives = n_objects * 3 // 100
    n_loose = n_objects - 5 * n_fail_sets - 3 * n_ignored_sets - n_archives
    for i in range(n_loose):
        raw, exp = imgs.make(rng.randint(3000, 7000), with_date=i % 200 != 100)
        corpus.put("d%02d/img_%06d.dcm" % (i % dirs, i), raw, [exp])
    kinds = ["zip", "tar", "gz"]
    for i in range(n_archives):
        kind = kinds[i % 3]
        members = [imgs.make(rng.randint(3000, 7000)) for _ in range(3)]
        ext = {"zip": "zip", "tar": "tar", "gz": "tar.gz"}[kind]
        corpus.archive("d%02d/study_%05d.%s" % (i % dirs, i, ext), kind, members,
                       extra_dicomdir=(i % 10 == 0))
    for i in range(n_fail_sets):
        corpus.failures("d%02d/bad%d" % (i % dirs, i))
    for i in range(n_ignored_sets):
        corpus.ignored("d%02d/side%d" % (i % dirs, i))


def stream_bursts(corpus, imgs, dates, n_bursts):
    """Burst b goes to directory bNN: STREAM_LOOSE loose .dcm and one small
    zip/tar/tar.gz of 3 members, all images of one study (a study-by-study
    upload). The first burst also carries one failure per stage and the
    ignored objects."""
    rng = corpus.rng
    for b in range(n_bursts):
        tag = "b%02d" % b
        study = rng.choice(dates)
        made = [imgs.make(rng.randint(3000, 7000), date=study) for _ in range(STREAM_LOOSE + 3)]
        for i, (raw, exp) in enumerate(made[:STREAM_LOOSE]):
            corpus.put("%s/img_%02d.dcm" % (tag, i), raw, [exp])
        kind = ("zip", "tar", "gz")[b % 3]
        ext = {"zip": "zip", "tar": "tar", "gz": "tar.gz"}[kind]
        corpus.archive("%s/study.%s" % (tag, ext), kind, made[STREAM_LOOSE:],
                       extra_dicomdir=(b % 3 == 0))
        if b == 0:
            # no empty DICOMDIR: the stream drops zero-length objects
            # without an error record (see BENCHMARK.md, known defects)
            corpus.failures(tag, empty_dicomdir=False)
            corpus.ignored(tag)


def large_archives(corpus, imgs):
    """Pixel-heavy archives of every supported codec, loose multi-MB .dcm
    (some past the 10 MB ranged-read cap), and objects above the inline
    limit so the one-object-per-task streamed route runs."""
    rng = corpus.rng
    with multiprocessing.get_context("fork").Pool(min(3, os.cpu_count() or 1)) as pool:
        for i, kind in enumerate(["xz", "bz2", "gz", "zip"] * 2):
            ext = {"zip": "zip", "gz": "tar.gz", "bz2": "tar.bz2", "xz": "tar.xz"}[kind]
            # the slow codecs get 64 KB rasters, the others 128 KB
            member = 128 * 256 * 2 if kind in ("xz", "bz2") else 256 * 256 * 2
            members = [imgs.make(member) for _ in range(ARCHIVE_MEMBERS)]
            corpus.archive("archives/a%02d.%s" % (i, ext), kind, members,
                           extra_dicomdir=(i % 4 == 0), pool=pool)
        corpus.flush()
    for i in range(6):
        size = rng.randint(2 * 2**20, 12 * 2**20 - 4096)
        raw, exp = imgs.make(size)
        corpus.put("loose/l%02d.dcm" % i, raw, [exp])
    for i in range(1):  # oversized loose .dcm: streamed ranged read
        raw, exp = imgs.make(MAX_INLINE_BYTES + rng.randint(2**19, 2**21))
        corpus.put("oversized/o%02d.dcm" % i, raw, [exp])
    members = [imgs.make(320 * 512 * 2) for _ in range(40)]  # ~13 MB stored zip
    corpus.archive("oversized/big.zip", "zip-stored", members)
    corpus.failures("bad")
    corpus.ignored("side")


def summarize(objects):
    hist, errors = {}, {"route": 0, "expand": 0, "parse": 0, "transform": 0}
    images = ignored = header_bytes = 0
    for o in objects:
        if o["error"]:
            errors[o["error"]] += 1
        ignored += o["ignored"]
        for im in o["images"]:
            images += 1
            header_bytes += im["pixel_offset"] + 12
            hist[im["study_date"]] = hist.get(im["study_date"], 0) + 1
    return {"images": images, "errors": errors, "ignored": ignored,
            "date_hist": dict(sorted(hist.items())), "header_bytes": header_bytes,
            "objects": len(objects), "input_bytes": sum(o["bytes"] for o in objects)}


def samples(objects, rng, k=8):
    ims = [im for o in objects for im in o["images"]]
    return rng.sample(ims, min(k, len(ims)))


def generate(workload, seed, root, stream_bursts_n=0):
    """Write the workload's corpus under `root` and return its expectations.

    For ``ingest_stream`` the objects go to ``<root>/staging/bNN``, one
    directory per burst (``stream_bursts_n`` of them); the feeder moves
    each burst into the stream's input directory in turn."""
    if workload not in WORKLOADS:
        raise ValueError("unknown workload %r" % workload)
    rng = random.Random("%s:%d" % (workload, seed))
    nprng = np.random.default_rng([seed, WORKLOADS.index(workload)])
    dates = study_dates(rng, 30)
    imgs = Images(rng, nprng, dates)

    warm = Corpus(os.path.join(root, "warmup"), random.Random("warmup:%d" % seed))
    small_objects(warm, Images(warm.rng, nprng, dates[:3]), WARMUP_OBJECTS, dirs=2)

    sub = "staging" if workload == "ingest_stream" else "input"
    corpus = Corpus(os.path.join(root, sub), rng)
    if workload == "etl_small_objects":
        small_objects(corpus, imgs, SMALL_OBJECTS)
    elif workload == "etl_large_archives":
        large_archives(corpus, imgs)
    else:
        stream_bursts(corpus, imgs, dates, stream_bursts_n)
    summary = summarize(corpus.objects)
    # the pruned format("dicom") read covers a few directories of the
    # corpus (the stream's first three measured bursts): the source lists
    # with a per-file permission probe that costs milliseconds per object
    read_dirs = {"etl_small_objects": ["d00"], "etl_large_archives": ["archives"],
                 "ingest_stream": ["b01", "b02", "b03"]}[workload]
    read_images = sum(len(o["images"]) for o in corpus.objects
                      if o["key"].split("/")[0] in read_dirs)
    # the pruned count probes the busiest date that is not the imputed one
    probe = max((d for d in summary["date_hist"] if d != DEFAULT_DATE),
                key=lambda d: (summary["date_hist"][d], d))
    expected = dict(summary, workload=workload, seed=seed, probe_date=probe,
                    read_dirs=read_dirs, read_images=read_images,
                    probe_count=summary["date_hist"][probe],
                    samples=samples(corpus.objects, rng),
                    warmup=dict(summarize(warm.objects), read_images=sum(
                        len(o["images"]) for o in warm.objects if o["key"].startswith("d00/"))),
                    bursts=[[o["key"] for o in b] for b in bursts(corpus.objects)],
                    burst_images=[sum(len(o["images"]) for o in b)
                                  for b in bursts(corpus.objects)])
    with open(os.path.join(root, "expected.json"), "w") as f:
        json.dump(expected, f)
    return expected


def bursts(objects):
    """A stream corpus's objects grouped by burst directory (bNN), in feed
    order; nothing for a batch corpus."""
    out = {}
    for o in objects:
        b = o["key"].split("/")[0]
        if b.startswith("b") and b[1:].isdigit():
            out.setdefault(b, []).append(o)
    return [out[b] for b in sorted(out)]


def digest(root):
    """sha256 over every generated file's relative path and bytes."""
    h = hashlib.sha256()
    for d, _, files in sorted(os.walk(root)):
        for name in sorted(files):
            p = os.path.join(d, name)
            h.update(os.path.relpath(p, root).encode() + b"\0")
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()
