"""Seeded generator of the five staging sources of the organizations job.

The shapes follow `src/main/scala/graft/queries/Fixtures.scala`, sized
like the sf0.01 tables (SIZE: `supplier` 100 rows -> LDAP organizations,
`customer` 1,500 rows -> Teamleader companies). The 17 fixture documents are
included verbatim, with every generated id disjoint from theirs, so the
quads a full run writes about them can be checked against the engine's
oracle for the fixture-only job.

Besides the JSON inputs the generator writes `expected.json`: the counts the
mapping job must produce, and which count proves each mapping ran.
"""
import json
import random
import re
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
FIXTURES_SCALA = ROOT / "src/main/scala/graft/queries/Fixtures.scala"

# vocabularies of queries/ReferenceMappings.scala
ORG = "http://www.w3.org/ns/org#"
SCH = "https://schema.org/"
SKOS = "http://www.w3.org/2004/02/skos/core#"
MEEMOO = "https://data.hetarchief.be/ns/organization/"
MH = "https://data.hetarchief.be/ns/mediahaven/"


# the benchmark's input size: the sf0.01 row counts of `supplier` and `customer`
SIZE = dict(n_ldap=100, n_companies=1500, n_users=60)

SOURCES = ["ldap", "tl_companies", "tl_custom_fields", "tl_users", "mam"]
FIXTURE_VALS = {"ldap": "ldapDocs", "tl_companies": "tlCompanyDocs",
                "tl_custom_fields": "customFieldDocs", "tl_users": "tlUserDocs",
                "mam": "mamDoc"}

CLASSES = ["1 - Type - Cultuur Instelling", "2 - Type - Overheid",
           "3 - Type - Onderwijs", "4 - Type - Archief", "5 - Type - Omroep",
           "6 - Type - Museum"]
CATEGORIES = ["Content Partner", "School", "Service Provider", "Customer", None]
SECTORS = ["Cultuur", "Onderwijs", "Overheid", "Media"]
FUNCTIONS = ["Relatiebeheerder", "Projectleider", "Archivaris", "Coordinator",
             "Directeur"]
CITIES = [("Brugge", "8000", "West-Vlaanderen"), ("Leuven", "3000", "Vlaams-Brabant"),
          ("Hasselt", "3500", "Limburg"), ("Mechelen", "2800", "Antwerpen"),
          ("Kortrijk", "8500", "West-Vlaanderen"), ("Aalst", "9300", "Oost-Vlaanderen"),
          ("Genk", "3600", "Limburg"), ("Turnhout", "2300", "Antwerpen")]
STREETS = ["Kerkstraat", "Molenweg", "Stationsplein", "Dorpslaan", "Beukenlaan",
           "Schoolweg", "Marktplein", "Veldstraat"]
WORDS = ["Archief", "Erfgoed", "Museum", "Studio", "Collectie", "Huis", "Atelier",
         "Bibliotheek", "Omroep", "Theater", "Kring", "Fonds"]


def fixture_docs(path=FIXTURES_SCALA):
    """The fixture documents of Fixtures.scala, per source, as one-line JSON."""
    text = Path(path).read_text()
    out = {}
    for src, val in FIXTURE_VALS.items():
        m = re.search(r"val %s: Seq\[String\] = Seq\((.*?)\)\n\n" % val, text, re.S)
        if not m:
            raise ValueError(f"fixture {val} not found in {path}")
        docs = re.findall(r'"""(.*?)"""', m.group(1), re.S)
        out[src] = [json.dumps(json.loads(d), separators=(",", ":"),
                               ensure_ascii=False) for d in docs]
    return out


def fixture_ids(fx):
    """OR-ids, unit ids and user ids the fixtures use."""
    text = "\n".join(d for docs in fx.values() for d in docs)
    return set(re.findall(r'"(OR-[^"]*|u-\d+|tl-user-\d+)"', text))


def compact(doc):
    return json.dumps(doc, separators=(",", ":"), ensure_ascii=False)


class Gen:
    def __init__(self, seed, n_ldap, n_companies, n_users):
        self.rng = random.Random(seed)
        self.seed = seed
        self.n_ldap, self.n_companies = n_ldap, n_companies
        self.n_users = n_users
        self.fx = fixture_docs()
        self.taken = fixture_ids(self.fx)

    def new_id(self, prefix):
        while True:
            s = prefix + "".join(self.rng.choice("abcdefghijklmnopqrstuvwxyz0123456789")
                                 for _ in range(7))
            if s not in self.taken:
                self.taken.add(s)
                return s

    def address(self):
        city, postal, region = self.rng.choice(CITIES)
        street = f"{self.rng.choice(STREETS)} {self.rng.randint(1, 400)}"
        return street, postal, city, region

    def name(self, i):
        return f"{self.rng.choice(WORDS)} {self.rng.choice(WORDS).lower()} {i}"

    # -- LDAP organizations with 0-3 units --------------------------------
    def ldap(self):
        docs, orgs = [], []
        for i in range(self.n_ldap):
            # the first six cover every class, so each mapping has input
            edu = i == 5 or (i > 5 and self.rng.random() < 0.12)
            orid = self.new_id("OR-")
            attrs = {"objectClass": "x-be-viaa-educationalOrganization" if edu
                     else self.rng.choice([["top", "organization"], "organization"]),
                     "o": orid, "description": self.name(i)}
            cat = None if edu else CATEGORIES[i] if i < 5 else self.rng.choice(CATEGORIES)
            if cat:
                attrs["businessCategory"] = cat
            addr = None
            if self.rng.random() < 0.8:
                addr = self.address()
                attrs.update({"street": addr[0], "postalCode": addr[1], "l": addr[2]})
                if self.rng.random() < 0.7:
                    attrs["st"] = addr[3]
            if self.rng.random() < 0.6:
                attrs["x-be-viaa-sector"] = self.rng.choice(SECTORS)
            doc = {"attributes": attrs}
            units = []
            if not edu:
                for k in range(self.rng.randint(0, 3)):
                    ua = {"objectClass": "organizationalUnit", "ou": f"{orid}-u{k}",
                          "description": f"Afdeling {k} {i}"}
                    uaddr = None
                    if self.rng.random() < 0.7:
                        uaddr = self.address()
                        ua.update({"street": uaddr[0], "postalCode": uaddr[1],
                                   "l": uaddr[2]})
                    units.append({"attributes": ua, "addr": uaddr})
                if len(units) == 1:
                    doc["units"] = {"attributes": units[0]["attributes"]}
                elif units:
                    doc["units"] = [{"attributes": u["attributes"]} for u in units]
            docs.append(compact(doc))
            orgs.append({"orid": orid, "edu": edu, "cat": cat, "addr": addr,
                         "units": units})
        return docs, orgs

    # -- Teamleader users ---------------------------------------------------
    def users(self):
        docs, users = [], []
        for i in range(self.n_users):
            uid = self.new_id("usr-")
            d = {"id": uid, "first_name": f"Voornaam{i}", "last_name": f"Achternaam{i}",
                 "email": f"{uid}@meemoo.be"}
            if self.rng.random() < 0.6:
                d["telephones"] = [{"type": "mobile",
                                    "number": f"+3247{self.rng.randint(1000000, 9999999)}"}]
            fn = self.rng.choice(FUNCTIONS) if self.rng.random() < 0.7 else None
            if fn:
                d["function"] = fn
            docs.append(compact(d))
            users.append({"id": uid, "function": fn})
        return docs, users

    # -- Teamleader companies -------------------------------------------------
    def company(self, i, orid, user_ids):
        rng = self.rng
        name = self.name(1000 + i)
        d = {"name": name}
        if rng.random() < 0.7:
            d["website"] = rng.choice([f"www.org{i}.be", f"https://org{i}.example.org"])
        addrs = []
        r = rng.random()
        for t in (["primary"] if r < 0.8 else ["primary", "invoicing"] if r < 0.9 else []):
            a = self.address()
            addrs.append(a)
        if addrs:
            d["addresses"] = [{"type": t, "address": {"line_1": a[0], "postal_code": a[1],
                                                      "city": a[2], "country": "BE"}}
                              for t, a in zip(["primary", "invoicing"], addrs)]
        emails = [(t, f"{t}{i}@org{i}.be")
                  for t in rng.sample(["primary", "invoicing"], rng.randint(0, 2))]
        if emails:
            d["emails"] = [{"type": t, "email": e} for t, e in emails]
        tels = [(t, f"+32{rng.randint(10000000, 99999999)}")
                for t in rng.sample(["primary", "fax", "invoicing"], rng.randint(0, 2))]
        if tels:
            d["telephones"] = [{"type": t, "number": n} for t, n in tels]
        d["responsible_user"] = {"id": rng.choice(user_ids)}
        status = rng.choice(["ja", "nee"])
        cfs = [(orid, "cf-orid"), (status, "cf-status")]
        info = {"orid": orid, "name": name, "status": status, "addrs": addrs,
                "emails": emails, "tels": tels, "class": None, "overlay": False,
                "email_onts": None, "tel_onts": None, "email_fact": None}
        if rng.random() < 0.5:
            cfs.append((f"Omschrijving {i}", "cf-omsch"))
        if rng.random() < 0.8:
            info["class"] = rng.choice(CLASSES)
            cfs.append((info["class"], "cf-class"))
        if rng.random() < 0.8:
            cfs += [(rng.random() < 0.5, "cf-overlay"), (rng.random() < 0.5, "cf-bzt")]
            info["overlay"] = True
        for key, cf, val in [("email_onts", "cf-email-onts", f"onts{i}@org{i}.be"),
                             ("tel_onts", "cf-tel-onts", f"+329{rng.randint(1000000, 9999999)}"),
                             ("email_fact", "cf-email-fact", f"fact{i}@org{i}.be")]:
            if rng.random() < 0.5:
                cfs.append((val, cf))
                info[key] = val
        if rng.random() < 0.3:
            cfs.append((f"https://forms.example.org/{i}", "cf-form"))
        d["custom_fields"] = [{"value": v, "definition": {"id": c}} for v, c in cfs]
        return compact(d), info

    def companies(self, ldap_orgs, user_ids):
        org_orids = [o["orid"] for o in ldap_orgs if not o["edu"]]
        docs, infos = [], []
        for i in range(self.n_companies):
            # a fifth of the companies are LDAP organizations too, while at
            # least half of those stay LDAP-only
            if self.rng.random() < 0.2 and len(org_orids) > self.n_ldap // 2:
                orid = org_orids.pop(self.rng.randrange(len(org_orids)))
            else:
                orid = self.new_id("OR-")
            doc, info = self.company(i, orid, user_ids)
            docs.append(doc)
            infos.append(info)
        return docs, infos

    def generate(self):
        fx = self.fx
        ldap_docs, orgs = self.ldap()
        user_docs, users = self.users()
        company_docs, comps = self.companies(orgs, [u["id"] for u in users])
        extra_cf = [compact({"id": f"cf-extra-{k}", "label": f"9.{k} - Extra veld {k}"})
                    for k in range(5)]
        all_orids = sorted({o["orid"] for o in orgs} | {c["orid"] for c in comps})
        tenants = [{"Name": f"Tenant {o}", "ExternalId": o}
                   for o in all_orids if self.rng.random() < 0.4]
        full = {
            "ldap": fx["ldap"] + ldap_docs,
            "tl_companies": fx["tl_companies"] + company_docs,
            "tl_custom_fields": fx["tl_custom_fields"] + extra_cf,
            "tl_users": fx["tl_users"] + user_docs,
            "mam": fx["mam"] + [compact(tenants)],
        }
        expected = {
            "seed": self.seed,
            "counts": self.predict_counts(orgs, users, comps, tenants),
        }
        return full, expected

    # -- what the 16 mappings must produce ----------------------------------
    def predict_counts(self, orgs, users, comps, tenants):
        """Distinct subjects per rdf:type / predicate in the target graph,
        fixtures included, plus the mapping each count proves non-empty."""
        # fixture contributions (FIXTURES.md): OR-w66976m content partner with
        # one unit, OR-school1 school, OR-edu1 edu org, OR-tl1 company (status
        # ja, class, overlay, primary email), users u-1 (function) and u-2
        ldap_org = {o["orid"] for o in orgs if not o["edu"]} | {"OR-w66976m", "OR-school1"}
        tl = {c["orid"] for c in comps} | {"OR-tl1"}
        ldap_cp = {o["orid"] for o in orgs if o["cat"] == "Content Partner"} | {"OR-w66976m"}
        tl_cp = {c["orid"] for c in comps if c["status"] == "ja"} | {"OR-tl1"}
        by_cat = lambda cat: {o["orid"] for o in orgs if o["cat"] == cat}
        units = [u for o in orgs for u in o["units"]]
        addresses = {a[0] + a[1] + a[2] for a in
                     [o["addr"] for o in orgs if o["addr"] and not o["edu"]] +
                     [u["addr"] for u in units if u["addr"]] +
                     [a for c in comps for a in c["addrs"]]}
        addresses |= {"Straat 1" "9000" "Gent", "Unitstraat 2" "9001" "Gent"}
        contact_points = sum(2 + len({t for t, _ in c["emails"]}) for c in comps) + 3
        with_fn = [u for u in users if u["function"]]
        t = lambda iri: "type " + iri
        p = lambda iri: "pred " + iri
        counts = {
            t(ORG + "Organization"): len(ldap_org | tl),
            t(MEEMOO + "ContentPartner"): len(ldap_cp | tl_cp),
            t(MEEMOO + "School"): len(by_cat("School") | {"OR-school1"}),
            t(MEEMOO + "EducationalOrganization"):
                len({o["orid"] for o in orgs if o["edu"]}) + 1,
            t(MEEMOO + "ServiceProvider"): len(by_cat("Service Provider")),
            t(MEEMOO + "ServiceConsumer"): len(by_cat("Customer")),
            t(ORG + "OrganizationalUnit"): len(units) + 1,
            t(ORG + "Site"): len(ldap_org) + len(units) + 1 + len(tl),
            t(SCH + "PostalAddress"): len(addresses),
            t(SCH + "ContactPoint"): contact_points,
            t(SCH + "Person"): len(users) + 2,
            t(ORG + "Post"): len(with_fn) + 1,
            t(ORG + "Role"): len({u["function"] for u in with_fn} | {"Account manager"}),
            p(SKOS + "altLabel"): len(ldap_org),
            p(MEEMOO + "hasAccountManager"): len(tl),
            p(ORG + "classification"): len({c["orid"] for c in comps if c["class"]}) + 1,
            p(MEEMOO + "allowsOverlay"): len({c["orid"] for c in comps if c["overlay"]}) + 1,
            p(MH + "label"): len({x["ExternalId"] for x in tenants} | {"OR-w66976m"}),
            p(SCH + "logo"): len(ldap_org | tl),
            p(SCH + "contactPoint"): len(tl),
        }
        # the mappings that share an output class each have members only
        # they produce, so an empty mapping lowers the exact count
        if not (ldap_cp - tl_cp and tl_cp - ldap_cp and ldap_org - tl and tl - ldap_org):
            raise ValueError("generator must produce LDAP-only and TL-only orgs and CPs")
        proof = {
            "ldap_mapping_org": p(SKOS + "altLabel"),
            "tl_users_mapping": t(SCH + "Person"),
            "tl_companies_mapping_org": p(MEEMOO + "hasAccountManager"),
            "ldap_mapping_school": t(MEEMOO + "School"),
            "ldap_mapping_eduorg": t(MEEMOO + "EducationalOrganization"),
            "tl_companies_mapping_contactpoint": t(SCH + "ContactPoint"),
            "tl_companies_mapping_cp": t(MEEMOO + "ContentPartner"),
            "tl_companies_mapping_classification": p(ORG + "classification"),
            "ldap_mapping_cp": t(MEEMOO + "ContentPartner"),
            "tl_companies_mapping_overlay": p(MEEMOO + "allowsOverlay"),
            "ldap_mapping_unit": t(ORG + "OrganizationalUnit"),
            "ldap_mapping_sp": t(MEEMOO + "ServiceProvider"),
            "ldap_mapping_sc": t(MEEMOO + "ServiceConsumer"),
            "map_mam_tenants": p(MH + "label"),
            "tl_companies_logo": p(SCH + "logo"),
            "ldap_logo": p(SCH + "logo"),
        }
        if any(counts[k] == 0 for k in proof.values()):
            raise ValueError("a mapping would produce no output at this size")
        return {"subjects": counts, "mapping_proof": proof}


def write(out_dir, seed, n_ldap=SIZE["n_ldap"], n_companies=SIZE["n_companies"],
          n_users=SIZE["n_users"]):
    full, expected = Gen(seed, n_ldap, n_companies, n_users).generate()
    out = Path(out_dir)
    for src in SOURCES:
        d = out / "full" / src
        d.mkdir(parents=True, exist_ok=True)
        if src == "mam":
            # whole-document source: one JSON array per file
            for k, doc in enumerate(full[src]):
                (d / f"tenants-{k}.json").write_text(doc + "\n")
        else:
            (d / "part-0.jsonl").write_text("\n".join(full[src]) + "\n")
    (out / "expected.json").write_text(json.dumps(expected, sort_keys=True) + "\n")
    return expected

