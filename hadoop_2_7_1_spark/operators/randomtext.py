"""RandomTextWriter-parity generator.

Reference: ``EX/RandomTextWriter.java:102-165`` — each map task draws
sentence lengths and words from ``java.util.Random`` over a fixed 1000-word
vocabulary and emits (key sentence, value sentence) pairs until its byte
budget is spent. The reference constructs ``new Random()`` UNSEEDED, so its
output is irreproducible run-to-run; this port makes the seed explicit
(seed = base_seed + map index) and is otherwise loop-for-loop faithful:
tests/test_randomtext.py pins (records, bytes, stream md5) against a
compiled harness of the reference mapper running the same seeds.

The vocabulary below is the reference's public 1000-word array
(EX/RandomTextWriter.java:255) — data, not code; required byte-for-byte for
parity. java.util.Random's LCG (48-bit, 0x5DEECE66D) is reimplemented from
its public specification.

Scale shape: generation is embarrassingly parallel — one ``mapInPandas``
batch per map index, no shuffle, no driver involvement; Python is justified
here for the same reason as GenSort (exact foreign-PRNG semantics are not
expressible as Spark SQL expressions).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

WORDS: list[str] = (
    "diurnalness Homoiousian spiranthic tetragynian silverhead ungreat "
    "lithograph exploiter physiologian by hellbender Filipendula undeterring "
    "antiscolic pentagamist hypoid cacuminal sertularian schoolmasterism "
    "nonuple gallybeggar phytonic swearingly nebular Confervales "
    "thermochemically characinoid cocksuredom fallacious feasibleness "
    "debromination playfellowship tramplike testa participatingly "
    "unaccessible bromate experientialist roughcast docimastical choralcelo "
    "blightbird peptonate sombreroed unschematized antiabolitionist besagne "
    "mastication bromic sviatonosite cattimandoo metaphrastical "
    "endotheliomyoma hysterolysis unfulminated Hester oblongly blurredness "
    "authorling chasmy Scorpaenidae toxihaemia Dictograph Quakerishly deaf "
    "timbermonger strammel Thraupidae seditious plerome Arneb eristically "
    "serpentinic glaumrie socioromantic apocalypst tartrous Bassaris "
    "angiolymphoma horsefly kenno astronomize euphemious arsenide untongued "
    "parabolicness uvanite helpless gemmeous stormy templar erythrodextrin "
    "comism interfraternal preparative parastas frontoorbital Ophiosaurus "
    "diopside serosanguineous ununiformly karyological collegian allotropic "
    "depravity amylogenesis reformatory epidymides pleurotropous trillium "
    "dastardliness coadvice embryotic benthonic pomiferous figureheadship "
    "Megaluridae Harpa frenal commotion abthainry cobeliever manilla "
    "spiciferous nativeness obispo monilioid biopsic valvula enterostomy "
    "planosubulate pterostigma lifter triradiated venialness tum archistome "
    "tautness unswanlike antivenin Lentibulariaceae Triphora angiopathy anta "
    "Dawsonia becomma Yannigan winterproof antalgol harr underogating ineunt "
    "cornberry flippantness scyphostoma approbation Ghent Macraucheniidae "
    "scabbiness unanatomized photoelasticity eurythermal enation prepavement "
    "flushgate subsequentially Edo antihero Isokontae unforkedness "
    "porriginous daytime nonexecutive trisilicic morphiomania paranephros "
    "botchedly impugnation Dodecatheon obolus unburnt provedore Aktistetae "
    "superindifference Alethea Joachimite cyanophilous chorograph brooky "
    "figured periclitation quintette hondo ornithodelphous unefficient "
    "pondside bogydom laurinoxylon Shiah unharmed cartful noncrystallized "
    "abusiveness cromlech japanned rizzomed underskin adscendent allectory "
    "gelatinousness volcano uncompromisingly cubit idiotize unfurbelowed "
    "undinted magnetooptics Savitar diwata ramosopalmate Pishquow tomorn "
    "apopenptic Haversian Hysterocarpus ten outhue Bertat mechanist "
    "asparaginic velaric tonsure bubble Pyrales regardful glyphography "
    "calabazilla shellworker stradametrical havoc theologicopolitical sawdust "
    "diatomaceous jajman temporomastoid Serrifera Ochnaceae aspersor "
    "trailmaking Bishareen digitule octogynous epididymitis smokefarthings "
    "bacillite overcrown mangonism sirrah undecorated psychofugal "
    "bismuthiferous rechar Lemuridae frameable thiodiazole Scanic "
    "sportswomanship interruptedness admissory osteopaedion tingly "
    "tomorrowness ethnocracy trabecular vitally fossilism adz metopon "
    "prefatorial expiscate diathermacy chronist nigh generalizable hysterogen "
    "aurothiosulphuric whitlowwort downthrust Protestantize monander Itea "
    "chronographic silicize Dunlop eer componental spot pamphlet antineuritic "
    "paradisean interruptor debellator overcultured Florissant hyocholic "
    "pneumatotherapy tailoress rave unpeople Sebastian thermanesthesia "
    "Coniferae swacking posterishness ethmopalatal whittle analgize "
    "scabbardless naught symbiogenetically trip parodist columniform trunnel "
    "yawler goodwill pseudohalogen swangy cervisial mediateness genii "
    "imprescribable pony consumptional carposporangial poleax bestill "
    "subfebrile sapphiric arrowworm qualminess ultraobscure thorite "
    "Fouquieria Bermudian prescriber elemicin warlike semiangle rotular "
    "misthread returnability seraphism precostal quarried Babylonism sangaree "
    "seelful placatory pachydermous bozal galbulus spermaphyte cumbrousness "
    "pope signifier Endomycetaceae shallowish sequacity periarthritis "
    "bathysphere pentosuria Dadaism spookdom Consolamentum afterpressure "
    "mutter louse ovoviviparous corbel metastoma biventer Hydrangea hogmace "
    "seizing nonsuppressed oratorize uncarefully benzothiofuran penult "
    "balanocele macropterous dishpan marten absvolt jirble parmelioid "
    "airfreighter acocotl archesporial hypoplastral preoral quailberry cinque "
    "terrestrially stroking limpet moodishness canicule archididascalian "
    "pompiloid overstaid introducer Italical Christianopaganism prescriptible "
    "subofficer danseuse cloy saguran frictionlessly deindividualization "
    "Bulanda ventricous subfoliar basto scapuloradial suspend stiffish "
    "Sphenodontidae eternal verbid mammonish upcushion barkometer concretion "
    "preagitate incomprehensible tristich visceral hemimelus patroller "
    "stentorophonic pinulus kerykeion brutism monstership merciful "
    "overinstruct defensibly bettermost splenauxe Mormyrus unreprimanded "
    "taver ell proacquittal infestation overwoven Lincolnlike chacona Tamil "
    "classificational lebensraum reeveland intuition Whilkut focaloid "
    "Eleusinian micromembrane byroad nonrepetition bacterioblast brag "
    "ribaldrous phytoma counteralliance pelvimetry pelf relaster "
    "thermoresistant aneurism molossic euphonym upswell ladhood phallaceous "
    "inertly gunshop stereotypography laryngic refasten twinling oflete "
    "hepatorrhaphy electrotechnics cockal guitarist topsail Cimmerianism "
    "larklike Llandovery pyrocatechol immatchable chooser metrocratic "
    "craglike quadrennial nonpoisonous undercolored knob ultratense "
    "balladmonger slait sialadenitis bucketer magnificently unstipulated "
    "unscourged unsupercilious packsack pansophism soorkee percent "
    "subirrigate champer metapolitics spherulitic involatile metaphonical "
    "stachyuraceous speckedness bespin proboscidiform gul squit yeelaman "
    "peristeropode opacousness shibuichi retinize yote misexposition "
    "devilwise pumpkinification vinny bonze glossing decardinalize "
    "transcortical serphoid deepmost guanajuatite wemless arval lammy Effie "
    "Saponaria tetrahedral prolificy excerpt dunkadoo Spencerism insatiately "
    "Gilaki oratorship arduousness unbashfulness Pithecolobium unisexuality "
    "veterinarian detractive liquidity acidophile proauction sural totaquina "
    "Vichyite uninhabitedness allegedly Gothish manny Inger flutist ticktick "
    "Ludgatian homotransplant orthopedical diminutively monogoneutic Kenipsim "
    "sarcologist drome stronghearted Fameuse Swaziland alen chilblain "
    "beatable agglomeratic constitutor tendomucoid porencephalous arteriasis "
    "boser tantivy rede lineamental uncontradictableness homeotypical masa "
    "folious dosseret neurodegenerative subtransverse Chiasmodontidae "
    "palaeotheriodont unstressedly chalcites piquantness lampyrine "
    "Aplacentalia projecting elastivity isopelletierin bladderwort strander "
    "almud iniquitously theologal bugre chargeably imperceptivity "
    "meriquinoidal mesophyte divinator perfunctory counterappellant synovial "
    "charioteer crystallographical comprovincial infrastapedial pleasurehood "
    "inventurous ultrasystematic subangulated supraoesophageal Vaishnavism "
    "transude chrysochrous ungrave reconciliable uninterpleaded erlking "
    "wherefrom aprosopia antiadiaphorist metoxazine incalculable umbellic "
    "predebit foursquare unimmortal nonmanufacture slangy predisputant "
    "familist preaffiliate friarhood corelysis zoonitic halloo paunchy "
    "neuromimesis aconitine hackneyed unfeeble cubby autoschediastical "
    "naprapath lyrebird inexistency leucophoenicite ferrogoslarite reperuse "
    "uncombable tambo propodiale diplomatize Russifier clanned corona "
    "michigan nonutilitarian transcorporeal bought Cercosporella stapedius "
    "glandularly pictorially weism disilane rainproof Caphtor scrubbed "
    "oinomancy pseudoxanthine nonlustrous redesertion Oryzorictinae gala "
    "Mycogone reappreciate cyanoguanidine seeingness breadwinner noreast "
    "furacious epauliere omniscribent Passiflorales uninductive inductivity "
    "Orbitolina Semecarpus migrainoid steprelationship phlogisticate "
    "mesymnion sloped edificator beneficent culm paleornithology unurban "
    "throbless amplexifoliate sesquiquintile sapience astucious dithery boor "
    "ambitus scotching uloid uncompromisingness hoove waird marshiness "
    "Jerusalem mericarp unevoked benzoperoxide outguess pyxie hymnic "
    "euphemize mendacity erythremia rosaniline unchatteled lienteria Bushongo "
    "dialoguer unrepealably rivethead antideflation vinegarish "
    "manganosiderite doubtingness ovopyriform Cephalodiscus Muscicapa "
    "Animalivora angina planispheric ipomoein cuproiodargyrite sandbox scrat "
    "Munnopsidae shola pentafid overstudiousness times nonprofession "
    "appetible valvulotomy goladar uniarticular oxyterpene unlapsing omega "
    "trophonema seminonflammable circumzenithal starer depthwise liberatress "
    "unleavened unrevolting groundneedle topline wandoo umangite ordinant "
    "unachievable oversand snare avengeful unexplicit mustafina sonable "
    "rehabilitative eulogization papery technopsychology impressor cresylite "
    "entame transudatory scotale pachydermatoid imaginary yeat slipped "
    "stewardship adatom cockstone skyshine heavenful comparability "
    "exprobratory dermorhynchous parquet cretaceous vesperal raphis "
    "undangered Glecoma engrain counteractively Zuludom orchiocatabasis "
    "Auriculariales warriorwise extraorganismal overbuilt alveolite tetchy "
    "terrificness widdle unpremonished rebilling sequestrum equiconvex "
    "heliocentricism catabaptist okonite propheticism helminthagogic "
    "calycular giantly wingable golem unprovided commandingness greave haply "
    "doina depressingly subdentate impairment decidable neurotrophic "
    "unpredict bicorporeal pendulant flatman intrabred toplike "
    "Prosobranchiata farrantly toxoplasmosis gorilloid dipsomaniacal aquiline "
    "atlantite ascitic perculsive prospectiveness saponaceous "
    "centrifugalization dinical infravaginal beadroll affaite Helvidian "
    "tickleproof abstractionism enhedge outwealth overcontribute coldfinch "
    "gymnastic Pincian Munychian codisjunct quad coracomandibular "
    "phoenicochroite amender selectivity putative semantician lophotrichic "
    "Spatangoidea saccharogenic inferent Triconodonta arrendation sheepskin "
    "taurocolla bunghole Machiavel triakistetrahedral dehairer "
    "prezygapophysial cylindric pneumonalgia sleigher emir Socraticism "
    "licitness massedly instructiveness sturdied redecrease starosta evictor "
    "orgiastic squdge meloplasty Tsonecan repealableness swoony myesthesia "
    "molecule autobiographist reciprocation refective unobservantness tricae "
    "ungouged floatability Mesua fetlocked chordacentrum sedentariness "
    "various laubanite nectopod zenick sequentially analgic biodynamics "
    "posttraumatic nummi pyroacetic bot redescend dispermy undiffusive "
    "circular trillion Uraniidae ploration discipular potentness sud Hu Eryon "
    "plugger subdrainage jharal abscission supermarket countergabion "
    "glacierist lithotresis minniebush zanyism eucalypteol sterilely "
    "unrealize unpatched hypochondriacism critically cheesecutter "
).split()
assert len(WORDS) == 1000

_MASK48 = (1 << 48) - 1


class JavaRandom:
    """Bit-exact ``java.util.Random`` (public JDK spec: 48-bit LCG,
    multiplier 0x5DEECE66D, addend 0xB)."""

    def __init__(self, seed: int):
        self._seed = (seed ^ 0x5DEECE66D) & _MASK48

    def _next(self, bits: int) -> int:
        self._seed = (self._seed * 0x5DEECE66D + 0xB) & _MASK48
        return self._seed >> (48 - bits)

    def next_int(self, bound: int) -> int:
        if bound <= 0:
            raise ValueError("bound must be positive")
        if bound & (bound - 1) == 0:  # power of two
            return (bound * self._next(31)) >> 31
        while True:
            bits = self._next(31)
            val = bits % bound
            if bits - val + (bound - 1) < 1 << 31:  # no int overflow
                return val


def sentences_for_map(
    seed: int,
    num_bytes: int,
    min_words_key: int = 5,
    max_words_key: int = 10,
    min_words_value: int = 10,
    max_words_value: int = 100,
):
    """Yield (key, value) sentence pairs exactly as one reference map task
    would (RandomTextWriter.java:129-152): lengths and words drawn from ONE
    Random instance in the reference's draw order, stopping when the byte
    budget goes non-positive."""
    rng = JavaRandom(seed)
    key_range = max_words_key - min_words_key
    value_range = max_words_value - min_words_value

    def sentence(n_words: int) -> str:
        return "".join(WORDS[rng.next_int(len(WORDS))] + " " for _ in range(n_words))

    remaining = num_bytes
    while remaining > 0:
        n_key = min_words_key + (rng.next_int(key_range) if key_range else 0)
        n_value = min_words_value + (rng.next_int(value_range) if value_range else 0)
        key, value = sentence(n_key), sentence(n_value)
        remaining -= len(key) + len(value)
        yield key, value


def random_text_summary(
    spark: SparkSession,
    n_maps: int = 2,
    bytes_per_map: int = 10_000,
    base_seed: int = 12345,
) -> DataFrame:
    """Per-map (n_records, n_bytes, stream_md5) summary, digest computed in
    generation order inside the task — directly comparable against the
    compiled reference mapper's output for the same seed."""
    import hashlib

    import pandas as pd

    def gen(batches):
        for pdf in batches:
            for map_id in pdf["id"]:
                m = int(map_id)
                md = hashlib.md5()
                records = total = 0
                for k, v in sentences_for_map(base_seed + m, bytes_per_map):
                    md.update((k + "\t" + v + "\n").encode())
                    records += 1
                    total += len(k) + len(v)
                yield pd.DataFrame(
                    {
                        "map_id": [m],
                        "n_records": [records],
                        "n_bytes": [total],
                        "stream_md5": [md.hexdigest()],
                    }
                )

    parts = spark.range(n_maps).repartition(n_maps)
    return parts.mapInPandas(
        gen, "map_id bigint, n_records bigint, n_bytes bigint, stream_md5 string"
    )
